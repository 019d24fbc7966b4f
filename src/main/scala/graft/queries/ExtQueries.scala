package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Sessions, Similarity, TextAnalysis => TA}
import graft.util.Tables

/** Extension operators (BASELINE.json mandate): dedup, similarity
  * search, text analysis, multimodal plumbing, sessionization — each
  * with a DuckDB oracle where expressible.
  */
object ExtQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Shared q120/q133 frame: per-doc logistic quality score (q108's
    * frozen weights) and the deterministic Efraimidis–Spirakis sample
    * key u^(1/w) (u an md5-derived uniform draw floored away from 0 —
    * prefix 000000 is legal, if astronomically rare). One definition so
    * the global (q120) and per-source (q133) samplers cannot
    * desynchronize on the weight or the draw. Pure scan-stage
    * arithmetic; `source` rides along for the grouped consumer.
    */
  private def esKeyFrame(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        TA.wsTokens(col("text")).as("toks"),
        TA.wsTokens(lower(col("text"))).as("ltoks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("double").as("n_words"),
        TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
        TA.punctRatio(col("text")).as("punct"),
        TA.stopwordRatioFromTokens(col("ltoks")).as("stop"))
    val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
      lit(0.4) * abs(col("mwl") - lit(5.0)) +
      lit(0.15) * log(lit(1.0) + col("n_words"))
    f.select(col("doc_id"), col("source"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality_score"),
        greatest(round(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
          16, 10).cast("double") / lit(16777215.0), 6), lit(1e-9)).as("u"))
      .withColumn("skey",
        round(pow(col("u"), lit(1.0) / col("quality_score")), 6))
  }

  /** The q59/q84 decontamination gram projection: per-doc distinct
    * word-8-gram md5 prefixes plus the md5-head-byte split bucket.
    * Shared so the twin paths (exact broadcast join vs Bloom prefilter)
    * cannot silently desynchronize on the split rule or gram width.
    */
  private def splitGrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
        explode(TA.wordGramHashes(col("text"), 8)).as("gh"))

  /** The q108 frozen-logistic per-doc quality score — (doc_id, source,
    * quality_score rounded at 6) — factored so q108 (the gate) and
    * q205 (the DoReMi step consuming per-source means of the SAME
    * score) cannot desynchronize on a coefficient.
    */
  private def docQuality(s: SparkSession, d: String): DataFrame =
    qualityOf(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text")))

  /** [[docQuality]] over an arbitrary (doc_id, source, text) frame —
    * factored so the streaming mixture maintenance (q214) can score
    * each arriving micro-batch with the IDENTICAL frozen coefficients
    * the batch chain (q212) and the q108 gate use.
    */
  private def qualityOf(docs: DataFrame): DataFrame = {
    val f = docs
      .select(col("doc_id"), col("source"), col("text"),
        TA.wsTokens(col("text")).as("toks"),
        TA.wsTokens(lower(col("text"))).as("ltoks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("double").as("n_words"),
        TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
        TA.punctRatio(col("text")).as("punct"),
        TA.stopwordRatioFromTokens(col("ltoks")).as("stop"))
    val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
      lit(0.4) * abs(col("mwl") - lit(5.0)) +
      lit(0.15) * log(lit(1.0) + col("n_words"))
    f.select(col("doc_id"), col("source"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality_score"))
  }

  /** The curriculum phase frame shared by q209 (the schedule card) and
    * q215 (phase-aware packing): per doc, the q108 frozen score, its
    * ws-token count, and the 1/2/3 phase from EXACT score terciles
    * (the distributed R-7 quantile shape — q153's discipline — so the
    * thresholds are a 2-scalar broadcast and assignment is a pure
    * scan). One definition so the schedule and the packer cannot
    * desynchronize on a threshold.
    */
  private def curriculumFrame(s: SparkSession, d: String): DataFrame = {
    val q = docQuality(s, d)
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val th = sourceQuantiles(q, Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
        keys = Seq.empty, valueCol = "quality_score")
      .select(col("t1"), col("t2"))
    q.join(toks, Seq("doc_id")).crossJoin(broadcast(th))
      .withColumn("phase",
        when(col("quality_score") <= col("t1"), 1L)
          .when(col("quality_score") <= col("t2"), 2L)
          .otherwise(3L))
  }

  /** Writes `batches` into `p` as ONE parquet file each, named
    * ingest_k.parquet with strictly increasing (fixed, deterministic)
    * modification times — so a maxFilesPerTrigger=1 file stream
    * delivers them as micro-batches 0..n-1 in EXACTLY this order
    * (FileStreamSource picks oldest-first; name order agrees as a
    * tie-break). The ordered-ingest harness for maintenance loops
    * whose update rule is order-DEPENDENT (q214's EG chain), where
    * the q179-style arbitrary-membership ingest would not be gateable
    * against the deterministic batch oracle.
    */
  private def writeOrderedBatches(p: String, batches: Seq[DataFrame]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    batches.zipWithIndex.foreach { case (b, k) =>
      val stage = s"$p/_stage_$k"
      b.coalesce(1).write.mode("overwrite").parquet(stage)
      // a parquet write always emits exactly one part file under
      // coalesce(1), even for an empty frame — but if a backend ever
      // broke that, .head would throw an opaque NoSuchElementException
      // into an order-dependent consumer (ADVICE r15), so check it
      val parts = Option(new java.io.File(stage).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"writeOrderedBatches: batch $k staged ${parts.length} part files " +
          s"under $stage (expected exactly 1)")
      val part = parts.head
      val dst = Paths.get(s"$p/ingest_$k.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      val want = FileTime.fromMillis(1700000000000L + k * 60000L)
      Files.setLastModifiedTime(dst, want)
      // the whole ordering contract rides on the filesystem honoring
      // this mtime (FileStreamSource orders oldest-first); a backend
      // that silently ignores setLastModifiedTime would reorder the
      // EG/packing chains downstream — fail loudly here instead
      require(Files.getLastModifiedTime(dst).toMillis == want.toMillis,
        s"writeOrderedBatches: filesystem did not honor mtime on $dst — " +
          "ordered ingest cannot be guaranteed")
      // drop the stage dir (underscore-prefixed = hidden to Spark
      // readers anyway, but keep the ingest dir clean)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(stage))
    }
  }

  /** The corpus vocabulary rule shared by q63 (vocab construction) and
    * q88 (OOV scoring): whitespace tokens of lowercased text, top `k`
    * by (freq desc, term asc) — a TakeOrderedAndProject, so the result
    * is k-bounded however large the corpus. One definition so the two
    * consumers cannot desynchronize on tokenization or tie-break.
    */
  private def corpusVocab(s: SparkSession, d: String, k: Int): DataFrame =
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
    * [[CoreQueries.sharedInputDir]] (per-process, cleaned at JVM exit);
    * k=8 / r=2 / b=8 fixed because every consumer and every oracle is
    * calibrated to that banding. Value-identity with the recompute path
    * is inherent — bandedSignatures is per-row, so write+read-back
    * cannot change rows — and the unchanged DuckDB oracles gate it.
    */
  private def corpusSignatures(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_sig8_${CoreQueries.dirToken(d)}") { p =>
      // overwrite: a failed partial first write leaves the directory
      // behind, and ErrorIfExists would then fail every retry for the
      // rest of the session instead of clobbering the partial output.
      // Derived from the shared minima artifact (NOT raw text): the
      // banding step is pure array arithmetic, so the session pays the
      // full-text shingle+minhash scan exactly once across this table
      // AND the q201 sweep's r=1/r=4 bandings.
      Dedup.bandedSignaturesFromMinima(corpusMinima(s, d), r = 2)
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The 16 per-nibble minhash minima per doc — the one full-text
    * shingle+hash scan the whole LSH family derives from, persisted
    * once per session ([[corpusSignatures]]' discipline one stage
    * earlier). At corpus scale this is the table a build would
    * version alongside the signature table: |docs| rows x 16 short
    * strings.
    */
  private def corpusMinima(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_minima16_${CoreQueries.dirToken(d)}") { p =>
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.minhashBands(col("text"), 8).as("mh"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** One banding leg's candidate-pair table for the q201 sweep —
    * distinct (a_id, b_id) from [[Dedup.minhashCandidates]] over the
    * r-banded signatures, session-materialized like the signature
    * table itself (and like the containment family's persisted pair
    * artifact, q156/q158): a sweep's candidate tables are corpus-
    * version artifacts a 100 TB calibration would write once and have
    * every verify/report stage SCAN, not regenerate. The r=2 leg
    * derives from [[corpusSignatures]] so the sweep's production row
    * is byte-identical to the table production consumers read.
    */
  private def bandSweepCandidates(s: SparkSession, d: String,
      r: Int): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_bandcand${r}_${CoreQueries.dirToken(d)}") { p =>
      val sig = if (r == 2) corpusSignatures(s, d)
        else Dedup.bandedSignaturesFromMinima(corpusMinima(s, d), r)
      Dedup.minhashCandidates(sig).select(col("a_id"), col("b_id"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The q114/q201 fenced exact truth side — (q_id, n_id) pairs whose
    * 120-char-prefix 3-gram Jaccard is >= 0.5, q_id restricted to the
    * bounded doc_id % 29 sample — written once per session: the
    * brute-force verify pass costs one sample-broadcast streaming scan
    * and is consumed by two registered evals (recall + sweep), three
    * bench runs each.
    */
  private def lshRecallTruth(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_lshtruth_${CoreQueries.dirToken(d)}") { p =>
      val pre = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 120).as("pre"))
      val sample = pre.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("q_id"), col("pre").as("q_pre"))
      pre.crossJoin(broadcast(sample))
        .filter(col("doc_id") =!= col("q_id"))
        .filter(Dedup.ngramJaccard(col("q_pre"), col("pre"), 3) >= 0.5)
        .select(col("q_id"), col("doc_id").as("n_id"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

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

  /** The persisted (band, minhash, bn) bucket-count artifact the
    * streaming cap consults instead of rescanning the base signature
    * table per micro-batch — session-materialized once next to the
    * signature table it counts. `name` keys the artifact to that
    * table.
    */
  private def sigCountArtifact(s: SparkSession, name: String,
      sig: DataFrame): DataFrame = {
    val dir = CoreQueries.sharedInputDir(name) { p =>
      sig.groupBy(col("band"), col("minhash"))
        .agg(count(lit(1)).as("bn")).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The 64-bit SimHash banding shared by q85's detector, the q113
    * drop sets, and q123's streaming twin: 4 pigeonhole bands of 16
    * bits each — a pair within hamming distance 3 MUST agree exactly
    * on at least one band (in fact on >= 1 of any 4 with <= 3 flipped
    * bits), so the (band, nib) equi-join is a lossless candidate
    * filter for the <= 3 rescore. Keeps `sh` alongside so consumers
    * can rescore without a second corpus join.
    */
  private def sh64Sig(shFrame: DataFrame): DataFrame =
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
  private def containmentRescore(cand: DataFrame, leftId: String,
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

  /** q135's per-micro-batch body: the batch's cell index against the
    * persisted base cell index, cross-side in-threshold pairs only —
    * the semantic family's [[streamBatchCandidates]] twin, factored so
    * the replay-idempotence spec and the interior-plan audit drive the
    * same frame the query writes.
    */
  private[graft] def streamBatchSemantic(batch: DataFrame,
      baseIdx: DataFrame, tau: Double = 0.4,
      baseCellCounts: Option[DataFrame] = None): DataFrame =
    Similarity.semanticCrossCandidates(
      Similarity.cellIndex(batch, "vec_id", "embedding"), baseIdx, tau,
      baseCellCounts = baseCellCounts)

  /** q137's per-micro-batch body: the batch slice's quantized-index
    * rows — int8 encode + code-space cell assignment
    * ([[graft.ext.Similarity.quantizedIndex]], q94's deployed index
    * frame). Unlike the detector twins (q115/q123/q135) the index
    * append needs NO base-side join at all: maintaining the artifact
    * is pure per-batch work (|batch| x 16 centroids), which is exactly
    * why an incremental index build beats a rebuild at 100 TB.
    * Factored so the replay spec and the interior-plan audit build the
    * same frame the query appends.
    */
  private[graft] def streamBatchQuantIndex(batch: DataFrame): DataFrame =
    Similarity.quantizedIndex(batch, "vec_id", "embedding")

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
  private def isDeltaDoc(c: Column): Column =
    substring(md5(c.cast("string")), 1, 1).isin("0", "1", "2")

  /** Sub-split of the delta slice into two consecutive ingests (q142):
    * second md5 nibble 0–7 ⇒ first ingest.
    */
  private def isFirstIngest(c: Column): Column =
    substring(md5(c.cast("string")), 2, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")

  /** The two persisted base-corpus artifacts the cluster-maintenance
    * queries read instead of recomputing: the q95 banded-signature
    * table and the base cluster table (labels = min doc_id per
    * component, singletons self-labelled). Shared by q141/q142 —
    * session-materialized once each.
    */
  private def baseClusterArtifacts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val baseSig = v1SigArtifact(s, d)
    val compDir = CoreQueries.sharedInputDir(
      s"graft_q141_comp_${CoreQueries.dirToken(d)}") { p =>
      val baseCand = graft.util.Persist(Dedup.minhashCandidates(baseSig)
        .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id")))
      val comp = Dedup.connectedComponents(baseCand, "a_id", "b_id")
      docs.filter(!isDeltaDoc(col("doc_id"))).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("lab"))
        .write.mode("overwrite").parquet(p)
    }
    (baseSig, s.read.parquet(compDir))
  }

  /** One cluster-ingest step (q141/q142's loop body): candidates that
    * touch the delta only (cross equi-join against the signature
    * table + delta×delta batch pass), contracted-supergraph merge
    * into the label table. Returns the grown signature table (a real
    * run APPENDS the delta signatures to the q95 table; the union is
    * computationally identical) and the merged label table.
    */
  private def clusterIngestStep(baseSig: DataFrame, baseLab: DataFrame,
      delta: DataFrame, baseCounts: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val deltaSig = Dedup.bandedSignatures(delta, "text", "doc_id", k = 8)
    val cross = streamSigCandidates(
      deltaSig.select(col("band"), col("minhash"), col("doc_id").as("delta_id")),
      baseSig.select(col("band"), col("minhash"), col("doc_id").as("base_id")),
      minBands = 2, baseCounts = baseCounts)
      .select(col("delta_id"), col("base_id"))
    val dd = Dedup.minhashCandidates(deltaSig)
      .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id"))
    val merged = Dedup.incrementalComponents(baseLab, cross, dd,
        delta.select(col("doc_id")))
      .select(col("doc_id"), col("cluster_id").as("lab"))
    (baseSig.unionByName(deltaSig), merged)
  }

  /** The (doc_id, n_spans, span_idx, k) frame of q92's 8-token span
    * keys (16-hex md5), shared by q148/q149.
    */
  private def spanFrame(side: DataFrame): DataFrame = side
    .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
    .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
    .filter(col("n_spans") >= 1)
    .select(col("doc_id"), col("n_spans"),
      posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
        i => substring(md5(array_join(
          slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")), 1, 16)))
        .as(Seq("span_idx", "k")))

  /** The persisted base span-owner SET (distinct span keys of the base
    * corpus) q148/q149 anti-join — the span family's q95-style
    * artifact.
    */
  private def baseSpanOwners(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_q148_own_${CoreQueries.dirToken(d)}") { p =>
      spanFrame(Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))))
        .select(col("k")).distinct()
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** q149's per-micro-batch owner-merge body: the batch's span claims
    * (base-owned keys excluded, min-(doc_id, span_idx) owner within
    * the batch) min-merged into the owner table AS OF the previous
    * batch. min is associative+commutative, so the final owner table
    * is independent of how the delta was batched — which is exactly
    * why q149 gates on the SAME oracle as q148.
    */
  private[graft] def streamBatchSpanOwners(batch: DataFrame,
      baseOwn: DataFrame, prevOwners: Option[DataFrame]): DataFrame = {
    val cand = spanFrame(batch)
      .join(baseOwn, Seq("k"), "left_anti")
      .groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
      .select(col("k"), col("o.doc_id").as("doc_id"),
        col("o.span_idx").as("span_idx"))
    prevOwners.fold(cand)(prev =>
      prev.unionByName(cand)
        .groupBy(col("k"))
        .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
        .select(col("k"), col("o.doc_id").as("doc_id"),
          col("o.span_idx").as("span_idx")))
  }

  /** q144's per-micro-batch merge body: the batch's signatures against
    * the signature table AS OF the previous batch (base + all earlier
    * batches), contracted-supergraph merge into the label table AS OF
    * the previous batch. Factored so the replay spec and interior-plan
    * audit drive the same frame the stream writes.
    */
  private[graft] def streamBatchClusterMerge(batchSig: DataFrame,
      priorSig: DataFrame, prevLab: DataFrame,
      deltaDocs: DataFrame): DataFrame = {
    val cross = streamSigCandidates(
      batchSig.select(col("band"), col("minhash"), col("doc_id").as("delta_id")),
      priorSig.select(col("band"), col("minhash"), col("doc_id").as("base_id")),
      minBands = 2)
      .select(col("delta_id"), col("base_id"))
    val dd = Dedup.minhashCandidates(batchSig)
      .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id"))
    Dedup.incrementalComponents(prevLab, cross, dd, deltaDocs)
      .select(col("doc_id"), col("cluster_id").as("lab"))
  }

  /** The leakage-safe split-assignment frame shared by q132 and q139:
    * per doc, the NAIVE md5-bucket split (q46's rule on doc_id) and
    * the CLUSTER split (same rule on the connected-component
    * representative of the MinHash candidate graph — singletons key on
    * themselves), so near-dup cluster members co-assign by
    * construction. `cand` is the candidate-pair edge list (callers
    * Persist it; q132 also reuses it for its pair audit).
    */
  private def splitAssignments(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(cand, "a_id", "b_id")
    val rep = Tables.documents(s, d).select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
    def bucketOf(c: Column): Column =
      pmod(conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long"),
        lit(100L))
    def splitOf(b: Column): Column =
      when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test"))
    rep.select(col("doc_id"),
      splitOf(bucketOf(col("doc_id"))).as("naive_split"),
      splitOf(bucketOf(col("rep"))).as("cluster_split"))
  }

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
  private def sourceQuantiles(docs: DataFrame,
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
    * [[CoreQueries.sharedInputDir]]) rather than memory-Persist'd:
    * at 100 TB the drop sets are an OUTPUT of the corpus build — every
    * curation report reads the drop-set table of the release, it does
    * not re-run four detector pipelines per report — the same
    * discipline [[corpusSignatures]] applies to the signature table.
    * Value-identity with the recompute path is inherent (write +
    * read-back cannot change rows) and the four consumers' unchanged
    * DuckDB oracles gate it.
    */
  private def dedupDropSets(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_dropsets_${CoreQueries.dirToken(d)}") { p =>
      dropSetsRecompute(s, d).repartition(1).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The batch containment detector's rescored pairs (q156's frame) as
    * a session-persisted parquet artifact — the [[dedupDropSets]]
    * discipline applied to the fifth detector family: at 100 TB the
    * containment pairs are a build OUTPUT; q156 (the detector report)
    * and q162 (the release artifact) both SCAN the persisted table
    * instead of re-running the candidate + gram rescore per query.
    * Value-identity is inherent (write + read-back) and q156's
    * unchanged DuckDB oracle gates it.
    */
  private def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_contpairs_${CoreQueries.dirToken(d)}") { p =>
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
    s.read.parquet(dir)
  }

  /** q162's per-doc release ledger over EXPLICIT inputs: every doc of
    * `docs` with a drop_reason composing held-out split → quality
    * floor (q100's rules, identical rounding) → decontamination
    * (q59's held-gram overlap, held set derived from `docs` itself) →
    * the five detector families under a fixed precedence (the four
    * from `dropSets`, containment from `contPairs` with the
    * contained-side drop rule). Factored so the current release
    * (q162) and a past release's ledger (q167's v1: base docs +
    * v1-build artifacts) evaluate the SAME rules — the transition
    * matrix between them is then a statement about the DATA, not
    * about rule drift.
    */
  private def curatedLedger(docs: DataFrame, dropSets: DataFrame,
      contPairs: DataFrame): DataFrame = {
    val qual = docs.select(col("doc_id"), col("source"), col("lang"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
        TA.wsTokens(col("text")).as("toks"),
        TA.wsTokens(lower(col("text"))).as("ltoks"))
      .select(col("doc_id"), col("source"), col("lang"), col("hb"),
        size(col("toks")).cast("long").as("n_words"),
        round(TA.meanWordLenFromTokens(col("text"), col("toks")), 6)
          .as("mwl"),
        round(TA.stopwordRatioFromTokens(col("ltoks")), 6).as("sr"),
        round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
          / size(col("ltoks")).cast("double"), 6).as("df"))
      .withColumn("q_keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mwl") >= 3.0 && col("mwl") <= 10.0 &&
        col("sr") >= 0.02 && col("df") <= 0.9)
    // decontamination: train docs sharing any 8-gram with the
    // held-out split (q59's broadcast-held-set shape)
    val grams = docs
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
        explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
    val held = grams.filter(col("hb") === "0").select(col("gh")).distinct()
    val contam = grams.filter(col("hb") =!= "0")
      .join(broadcast(held), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("c_hit", lit(1L))
    // four persisted detector families pivoted to per-doc flags
    val dr = dropSets
      .groupBy(col("doc_id"))
      .agg(max(when(col("det") === "minhash", 1L).otherwise(0L)).as("d_mh"),
        max(when(col("det") === "simhash", 1L).otherwise(0L)).as("d_sh"),
        max(when(col("det") === "span", 1L).otherwise(0L)).as("d_sp"),
        max(when(col("det") === "semantic", 1L).otherwise(0L)).as("d_se"))
    // fifth family: containment drops the contained side
    val cdrop = contPairs
      .select(when(col("cont_a") > col("cont_b"), col("a_id"))
        .when(col("cont_b") > col("cont_a"), col("b_id"))
        .otherwise(greatest(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct().withColumn("d_ct", lit(1L))
    qual.join(contam, Seq("doc_id"), "left")
      .join(dr, Seq("doc_id"), "left")
      .join(cdrop, Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(col("hb") === "0", "heldout")
          .when(!col("q_keep"), "quality")
          .when(col("c_hit") === 1L, "decontaminated")
          .when(col("d_mh") === 1L, "minhash")
          .when(col("d_sh") === 1L, "simhash")
          .when(col("d_sp") === 1L, "span")
          .when(col("d_se") === 1L, "semantic")
          .when(col("d_ct") === 1L, "containment")
          .otherwise("kept"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_words"),
        col("drop_reason"),
        (col("drop_reason") === "kept").cast("long").as("kept"))
  }

  /** The v1 release's banded signature table (the SAME persisted
    * artifact the incremental family reads — q95's key). */
  private def v1SigArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_q95_sig_${CoreQueries.dirToken(d)}") { p =>
      Dedup.bandedSignatures(
        Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))),
        "text", "doc_id", k = 8).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The v1 release's SimHash signature table (q123's key):
    * (doc_id, sh, band, nib), ~4 narrow rows per doc. */
  private def v1SimhashSigArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_q123_sig_${CoreQueries.dirToken(d)}") { p =>
      simhashBaseSig(Tables.documents(s, d)
          .filter(!isDeltaDoc(col("doc_id"))))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The v1 release's semantic cell index (q135's key):
    * (cell, id, vec, nrm) — the corpus build's embedding-index
    * output at 100 TB. */
  private def v1CellIndexArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_q135_idx_${CoreQueries.dirToken(d)}") { p =>
      Similarity.cellIndex(
        Tables.embeddings(s, d).filter(!isDeltaDoc(col("vec_id"))),
        "vec_id", "embedding").write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The (cell, cn) count artifact next to [[v1CellIndexArtifact]] —
    * per-batch cell caps read this instead of re-aggregating the
    * index (q135's key). */
  private def v1CellCountArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_q135cnt_${CoreQueries.dirToken(d)}") { p =>
      v1CellIndexArtifact(s, d).groupBy(col("cell"))
        .agg(count(lit(1)).as("cn"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The v1 release's four-family drop sets, persisted (q167/q168). */
  private def v1DropsArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_dropsv1_${CoreQueries.dirToken(d)}") { p =>
      dropSetsRecomputeFrom(
        Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))),
        v1SigArtifact(s, d),
        Tables.embeddings(s, d).filter(!isDeltaDoc(col("vec_id"))))
        .repartition(1).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The v1 release's containment pairs, persisted (q167/q168). */
  private def v1PairsArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_contpv1_${CoreQueries.dirToken(d)}") { p =>
      val baseDocs = Tables.documents(s, d)
        .filter(!isDeltaDoc(col("doc_id")))
      var cached: Option[DataFrame] = None
      containmentRescore(
        Dedup.minhashCandidates(v1SigArtifact(s, d))
          .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id")),
        "a_id", "b_id", baseDocs, baseDocs, "cont_a", "cont_b",
        onPersist = f => cached = Some(f))
        .repartition(1).write.mode("overwrite").parquet(p)
      cached.foreach(_.unpersist())
    }
    s.read.parquet(dir)
  }

  /** The v1 release LEDGER as a persisted artifact — what a real v1
    * build ships; q167 diffs against it, q168 maintains FROM it. */
  private def v1ReleaseLedger(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_ledgv1_${CoreQueries.dirToken(d)}") { p =>
      curatedLedger(
        Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))),
        v1DropsArtifact(s, d), v1PairsArtifact(s, d))
        .repartition(1).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The CURRENT (v2) release ledger as a persisted artifact —
    * [[v1ReleaseLedger]]'s full-corpus twin (ADVICE r11): the ledger a
    * release SHIPS is written once, and every downstream report (q162,
    * q167's v2 side, q169's funnel, the round-12 two-key funnel) SCANS
    * it instead of re-running the quality scan + corpus-wide
    * decontamination gram pass per query. Value-identity with the
    * recompute is inherent (write + read-back) and q162's unchanged
    * DuckDB oracle gates it.
    */
  private def v2ReleaseLedger(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_ledgv2_${CoreQueries.dirToken(d)}") { p =>
      curatedLedger(Tables.documents(s, d), dedupDropSets(s, d),
          containmentPairs(s, d))
        .repartition(1).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The v1 release's span-owner table — (k, doc_id, span_idx), the
    * min-(doc_id, span_idx) owner of every base span key (q148's rule;
    * q168/q171's maintenance input). */
  private def v1SpanOwnerArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_spownv1_${CoreQueries.dirToken(d)}") { p =>
      spanFrame(Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))))
        .groupBy(col("k"))
        .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
        .select(col("k"), col("o.doc_id").as("doc_id"),
          col("o.span_idx").as("span_idx"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The v1 release's per-doc span counts — (doc_id, n_spans), the
    * denominator of the span verdict (q168/q171). */
  private def v1SpanCountArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_spcntv1_${CoreQueries.dirToken(d)}") { p =>
      spanFrame(Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))))
        .groupBy(col("doc_id")).agg(max(col("n_spans")).as("n_spans"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** Everything a release SHIPS and the next release's maintenance
    * step consumes — the closure of [[ledgerMaintainStep]]: the five
    * detector families' index artifacts (banded MinHash signatures +
    * bucket counts, SimHash signatures + counts, semantic cell index +
    * counts, span owners + per-doc span counts), the four-family drop
    * sets, the containment pair table, and the per-doc ledger itself.
    * A step consumes one bundle and produces the next; chaining steps
    * (q171) is then just function composition.
    */
  private case class RelArtifacts(sig: DataFrame, sigCnt: DataFrame,
      shSig: DataFrame, shCnt: DataFrame, cellIdx: DataFrame,
      cellCnt: DataFrame, spanOwn: DataFrame, spanCnt: DataFrame,
      drops: DataFrame, pairs: DataFrame, ledger: DataFrame)

  /** The v1 release's full artifact bundle, every member the SAME
    * persisted session artifact its standalone family reads (q95/q123/
    * q135/q148/q167 keys) — the `prior` input of q168's maintenance
    * step and the chain's starting release (q171). */
  private def v1Artifacts(s: SparkSession, d: String): RelArtifacts = {
    val tok = CoreQueries.dirToken(d)
    RelArtifacts(
      sig = v1SigArtifact(s, d),
      sigCnt = sigCountArtifact(s, s"graft_q95cnt_$tok", v1SigArtifact(s, d)),
      shSig = v1SimhashSigArtifact(s, d),
      shCnt = sigCountArtifact(s, s"graft_q123cnt_$tok",
        v1SimhashSigArtifact(s, d)),
      cellIdx = v1CellIndexArtifact(s, d),
      cellCnt = v1CellCountArtifact(s, d),
      spanOwn = v1SpanOwnerArtifact(s, d),
      spanCnt = v1SpanCountArtifact(s, d),
      drops = v1DropsArtifact(s, d),
      pairs = v1PairsArtifact(s, d),
      ledger = v1ReleaseLedger(s, d))
  }

  /** ONE release-maintenance step: `(prior artifacts, delta) => next
    * artifacts` — q168's delta-proportional semantics factored into a
    * composable function (round-12 capstone). Every family advances by
    * delta-proportional work only:
    *
    *  - index artifacts grow by APPEND (signatures/cell index are
    *    per-doc; counts merge additively; span owners min-merge —
    *    min is associative+commutative, so owner tables are
    *    independent of how the delta was batched),
    *  - drop sets grow by the delta's cross candidates against each
    *    persisted index plus delta-internal candidates (the detectors
    *    are MONOTONE in the data — q170's gated theorem — so prior
    *    verdicts are never revisited),
    *  - containment pairs accumulate (cross + delta-internal rescores),
    *  - quality/meta columns for prior docs are RECOVERED from the
    *    prior ledger (reason='quality' ⟺ fails the floor; recoverable
    *    because only 'heldout' precedes it in the reason order, and a
    *    heldout doc stays heldout forever — hb is a pure doc_id
    *    function), and
    *  - the ONE corpus-wide pass is decontamination: the held split
    *    arrives WITH the delta (md5 geometry), and screening old docs
    *    against a brand-new held set is inherently one scan (q59's
    *    broadcast shape; q84's Bloom is the degrade path).
    *
    * `corpus` is the NEW release's doc set (decontamination input);
    * `priorDocs` the previous release's docs (containment gram source
    * for cross pairs — pruned to candidate ids before any shingle
    * work). `onPersist` receives every frame the step caches so
    * eager callers (the q171 materializer) can unpersist after their
    * writes land. q168 gates one step against q162's full-rebuild
    * oracle; q171 gates step∘step — the associativity that lets a
    * 100 TB corpus ship releases indefinitely without ever re-running
    * detectors over the previous corpus.
    */
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
  private val stepCached = new scala.collection.mutable.ArrayBuffer[DataFrame]
  private def stepOnPersist(f: DataFrame): Unit =
    stepCached.synchronized { stepCached += f }
  private def drainStepCache(): Unit = stepCached.synchronized {
    stepCached.foreach(f => try f.unpersist()
      catch { case scala.util.control.NonFatal(_) => () })
    stepCached.clear()
  }

  private def ledgerMaintainStep(prior: RelArtifacts, delta: DataFrame,
      deltaEmb: DataFrame, corpus: DataFrame, priorDocs: DataFrame,
      onPersist: DataFrame => Unit = _ => (),
      bloomDecon: Boolean = false): RelArtifacts = {
    def priorDet(det: String) =
      prior.drops.filter(col("det") === det).select(col("doc_id"))
    def mergeCounts(base: DataFrame, add: DataFrame, keys: Seq[String],
        cnt: String) =
      base.join(add.groupBy(keys.map(col): _*).agg(count(lit(1)).as("dn")),
          keys, "full")
        .select(keys.map(col) :+
          (coalesce(col(cnt), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as(cnt): _*)
    // ---- minhash: cross vs the persisted signature table (bucket
    //      counts from the persisted count artifact) + delta-internal ----
    val deltaSig = graft.util.Persist(
      Dedup.bandedSignatures(delta, "text", "doc_id", k = 8))
    onPersist(deltaSig)
    val mhV2 = priorDet("minhash")
      .unionByName(streamSigCandidates(
          deltaSig.select(col("band"), col("minhash"),
            col("doc_id").as("delta_id")),
          prior.sig.select(col("band"), col("minhash"),
            col("doc_id").as("base_id")),
          minBands = 2, baseCounts = Some(prior.sigCnt))
        .select(greatest(col("delta_id"), col("base_id")).as("doc_id")))
      .unionByName(Dedup.minhashCandidates(deltaSig)
        .filter(col("n_bands") >= 2).select(col("b_id").as("doc_id")))
      .distinct().select(lit("minhash").as("det"), col("doc_id"))
    // ---- simhash: same ingest shape over the SimHash signature table ----
    val dShF = delta.select(col("doc_id"),
      Dedup.simhash64(col("text")).as("sh"))
    val dShSig = sh64Sig(dShF)
    val shV2 = priorDet("simhash")
      .unionByName(streamBatchSimhash(
          delta.select(col("doc_id"), col("text")), prior.shSig,
          baseCounts = Some(prior.shCnt))
        .select(greatest(col("delta_id"), col("base_id")).as("doc_id")))
      .unionByName(Dedup.minhashCandidates(dShSig.drop("sh"))
        .filter(col("n_bands") >= 3)
        .join(dShF.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
          Seq("a_id"))
        .join(dShF.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
          Seq("b_id"))
        .filter(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= 3)
        .select(col("b_id").as("doc_id")))
      .distinct().select(lit("simhash").as("det"), col("doc_id"))
    // ---- span: delta claims min-merged into the owner table; the
    //      verdict is recomputed from the MERGED owners + counts, so a
    //      prior doc loses kept-spans to smaller-id delta claims
    //      without its text ever being rescanned ----
    val deltaSpan = graft.util.Persist(spanFrame(delta))
    onPersist(deltaSpan)
    // persisted (round 19, guide §5): the merged owner table feeds the
    // spanown artifact write AND the span verdict (itself consumed by
    // both the drops artifact and the ledger) — a corpus-keyed
    // group-by replayed 3× otherwise
    val spanOwn2 = graft.util.Persist(prior.spanOwn
      .unionByName(deltaSpan.groupBy(col("k"))
        .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
        .select(col("k"), col("o.doc_id").as("doc_id"),
          col("o.span_idx").as("span_idx")))
      .groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
      .select(col("k"), col("o.doc_id").as("doc_id"),
        col("o.span_idx").as("span_idx")))
    onPersist(spanOwn2)
    val spanCnt2 = prior.spanCnt
      .unionByName(deltaSpan.groupBy(col("doc_id"))
        .agg(max(col("n_spans")).as("n_spans")))
    val spV2 = spanCnt2
      .join(spanOwn2.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept")),
        Seq("doc_id"), "left")
      .filter(coalesce(col("n_kept"), lit(0L)) * 2 < col("n_spans"))
      .select(lit("span").as("det"), col("doc_id"))
    // ---- semantic: delta cell index vs the persisted index (cell
    //      caps from the persisted count artifact) + delta-internal ----
    // persisted (round 19, guide §5): consumed by the cellidx artifact
    // union, the cellcnt merge AND the cross-candidate join — three
    // replays of the delta scan + assignment otherwise
    val deltaIdx = graft.util.Persist(
      Similarity.cellIndex(deltaEmb, "vec_id", "embedding"))
    onPersist(deltaIdx)
    val seV2 = priorDet("semantic")
      .unionByName(Similarity.semanticCrossCandidates(deltaIdx,
          prior.cellIdx, tau = 0.4, baseCellCounts = Some(prior.cellCnt))
        .select(greatest(col("delta_id"), col("base_id")).as("doc_id")))
      .unionByName(Similarity.semanticDedup(deltaEmb, "vec_id",
          "embedding", tau = 0.4, nCells = 16)
        .select(col("dropped_id").as("doc_id")))
      .distinct().select(lit("semantic").as("det"), col("doc_id"))
    // ---- containment: the pair TABLE accumulates (cross rescored
    //      against the prior docs pruned to candidate ids, plus
    //      delta-internal); the drop rule is row-wise over pairs, so
    //      the verdict of the union is the union of verdicts ----
    val crossPairs = streamBatchContainment(
        delta.select(col("doc_id"), col("text")), prior.sig, priorDocs,
        baseCounts = Some(prior.sigCnt), onPersist = onPersist)
      .select(col("delta_id").as("a_id"), col("base_id").as("b_id"),
        col("n_common"), col("jaccard"),
        col("cont_delta").as("cont_a"), col("cont_base").as("cont_b"))
    val internalPairs = containmentRescore(
        Dedup.minhashCandidates(deltaSig).filter(col("n_bands") >= 2)
          .select(col("a_id"), col("b_id")),
        "a_id", "b_id", delta, delta, "cont_a", "cont_b",
        onPersist = onPersist)
      .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"),
        col("cont_a"), col("cont_b"))
    // persisted (round 19, guide §5): the accumulated pair table feeds
    // the pairs artifact write AND the containment verdict (drops +
    // ledger) — the rescore joins replayed otherwise
    val pairs2 = graft.util.Persist(prior.pairs
      .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"),
        col("cont_a"), col("cont_b"))
      .unionByName(crossPairs).unionByName(internalPairs))
    onPersist(pairs2)
    val ctV2 = pairs2
      .select(when(col("cont_a") > col("cont_b"), col("a_id"))
        .when(col("cont_b") > col("cont_a"), col("b_id"))
        .otherwise(greatest(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct().select(lit("containment").as("det"), col("doc_id"))
    // ---- meta + quality: prior docs recovered from the prior LEDGER,
    //      delta docs scanned fresh ----
    val deltaMeta = delta.select(col("doc_id"), col("source"), col("lang"),
        TA.wsTokens(col("text")).as("toks"),
        TA.wsTokens(lower(col("text"))).as("ltoks"))
      .select(col("doc_id"), col("source"), col("lang"),
        size(col("toks")).cast("long").as("n_words"),
        round(TA.meanWordLenFromTokens(col("text"), col("toks")), 6)
          .as("mwl"),
        round(TA.stopwordRatioFromTokens(col("ltoks")), 6).as("sr"),
        round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
          / size(col("ltoks")).cast("double"), 6).as("df"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_words"),
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mwl") >= 3.0 && col("mwl") <= 10.0 &&
          col("sr") >= 0.02 && col("df") <= 0.9).as("q_keep"))
    val allMeta = prior.ledger.select(col("doc_id"), col("source"),
        col("lang"), col("n_words"),
        (col("drop_reason") =!= "quality").as("q_keep"))
      .unionByName(deltaMeta)
      .withColumn("hb", substring(md5(col("doc_id").cast("string")), 1, 1))
    // ---- decontamination: the one corpus-wide pass (new held set) ----
    val grams = corpus.select(col("doc_id"),
      substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
      explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
    val held = grams.filter(col("hb") === "0").select(col("gh")).distinct()
    val train = grams.filter(col("hb") =!= "0")
    // bloomDecon = the held-set-scale degrade path promised by q59's
    // docstring and implemented standalone in q84, now a switch INSIDE
    // the composed maintenance step: a fixed-size Bloom sketch of the
    // held grams prefilters the train grams before the exact confirm
    // join kills the sketch's false positives — results stay EXACT
    // (q162's oracle still gates the ledger verbatim) while the
    // broadcast no longer scales with the held split. The confirm join
    // is deliberately NOT broadcast-hinted: in the regime where this
    // path is chosen the held set outgrew the driver, and the Bloom
    // prefilter has already cut the probe side to ~hits only, so a
    // shuffled hash join on the 16-byte gh key is the right plan.
    val contamHits =
      if (bloomDecon) {
        val heldP = graft.util.Persist(held)
        onPersist(heldP)
        val bf = heldP
          .agg(graft.ext.Bloom.sketchAgg(col("gh"), 100000L, 800000L).as("bf"))
          .collect()(0).getAs[Array[Byte]](0)
        train.filter(graft.ext.Bloom.mightContain(lit(bf), col("gh")))
          .join(heldP, Seq("gh"), "left_semi")
      } else train.join(broadcast(held), Seq("gh"), "left_semi")
    val contam = contamHits
      .select(col("doc_id")).distinct().withColumn("c_hit", lit(1L))
    // persisted (round 19, guide §5): the four-detector union IS the
    // drops artifact and feeds the ledger's reason resolution — every
    // detector's candidate joins replayed twice otherwise
    val drops4 = graft.util.Persist(
      mhV2.unionByName(shV2).unionByName(spV2).unionByName(seV2))
    onPersist(drops4)
    val dr = drops4
      .unionByName(ctV2)
      .groupBy(col("doc_id"))
      .agg(max(when(col("det") === "minhash", 1L).otherwise(0L)).as("d_mh"),
        max(when(col("det") === "simhash", 1L).otherwise(0L)).as("d_sh"),
        max(when(col("det") === "span", 1L).otherwise(0L)).as("d_sp"),
        max(when(col("det") === "semantic", 1L).otherwise(0L)).as("d_se"),
        max(when(col("det") === "containment", 1L).otherwise(0L)).as("d_ct"))
    val ledger2 = allMeta.join(contam, Seq("doc_id"), "left")
      .join(dr, Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(col("hb") === "0", "heldout")
          .when(!col("q_keep"), "quality")
          .when(col("c_hit") === 1L, "decontaminated")
          .when(col("d_mh") === 1L, "minhash")
          .when(col("d_sh") === 1L, "simhash")
          .when(col("d_sp") === 1L, "span")
          .when(col("d_se") === 1L, "semantic")
          .when(col("d_ct") === 1L, "containment")
          .otherwise("kept"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_words"),
        col("drop_reason"),
        (col("drop_reason") === "kept").cast("long").as("kept"))
    RelArtifacts(
      sig = prior.sig.unionByName(deltaSig),
      sigCnt = mergeCounts(prior.sigCnt, deltaSig,
        Seq("band", "minhash"), "bn"),
      shSig = prior.shSig.unionByName(dShSig),
      shCnt = mergeCounts(prior.shCnt, dShSig.drop("sh").drop("doc_id"),
        Seq("band", "minhash"), "bn"),
      cellIdx = prior.cellIdx.unionByName(deltaIdx),
      cellCnt = mergeCounts(prior.cellCnt, deltaIdx, Seq("cell"), "cn"),
      spanOwn = spanOwn2, spanCnt = spanCnt2,
      drops = drops4,
      pairs = pairs2, ledger = ledger2)
  }

  /** Materialize one maintenance step's full bundle as PERSISTED
    * parquet artifacts under a single session key — what a release
    * actually ships (and exactly how the chain's intermediate release
    * exists at 100 TB: on disk, not as live lineage). One write
    * closure shares the step's cached delta frames across the eleven
    * writes, then unpersists them (the q160/ADVICE-r11 discipline).
    *
    * SCALE NOTE (ADVICE r12): the step's COMPUTE is delta-proportional,
    * but this materialized path REWRITES the unioned sig/index tables
    * (prior ∪ delta), so the WRITE is corpus-proportional — fine at
    * fixture scale, and at 100 TB the swap is mechanical: append the
    * delta slices as new partitions under the prior artifact
    * directories (every merged table is a pure unionByName except the
    * span owner, which would keep a compacting min-merge) instead of
    * rewriting the union. A mid-closure failure leaves a partial tmp
    * dir that the next call retries with mode=overwrite — the session
    * key is registered only after all eleven writes succeed.
    */
  private def maintainedArtifacts(s: SparkSession, key: String,
      prior: => RelArtifacts, delta: DataFrame, deltaEmb: DataFrame,
      corpus: DataFrame, priorDocs: DataFrame): RelArtifacts = {
    val names = Seq("sig", "sigcnt", "shsig", "shcnt", "cellidx",
      "cellcnt", "spanown", "spancnt", "drops", "pairs", "ledger")
    val dir = CoreQueries.sharedInputDir(key) { p =>
      var cached = List.empty[DataFrame]
      val a = ledgerMaintainStep(prior, delta, deltaEmb, corpus,
        priorDocs, onPersist = f => cached ::= f)
      // the eleven artifact writes are independent jobs to distinct
      // directories — submit them concurrently (guide §2.6; round 19).
      // The step's persisted delta frames are shared: the first job
      // touching one materializes it, later jobs read the cache.
      graft.util.ParallelWrite.run(
        names.zip(Seq(a.sig, a.sigCnt, a.shSig, a.shCnt, a.cellIdx,
            a.cellCnt, a.spanOwn, a.spanCnt, a.drops, a.pairs, a.ledger))
          .map { case (n, df) => () =>
            df.write.mode("overwrite").parquet(s"$p/$n") })
      cached.foreach(_.unpersist())
    }
    def rd(n: String) = s.read.parquet(s"$dir/$n")
    RelArtifacts(rd("sig"), rd("sigcnt"), rd("shsig"), rd("shcnt"),
      rd("cellidx"), rd("cellcnt"), rd("spanown"), rd("spancnt"),
      rd("drops"), rd("pairs"), rd("ledger"))
  }

  /** The APPEND-ONLY materialization of one maintenance step — the
    * 100 TB write path [[maintainedArtifacts]]'s scale note promises:
    * the prior release's directory is seeded verbatim (at production
    * scale it simply IS the previous release's directory), then
    * maintenance writes ONLY what this release ADDED — per-doc /
    * per-pair tables get the added rows appended as new parquet files
    * (`mode=append`; computed here as `next exceptAll prior`, which a
    * production step skips because it holds the delta slices
    * directly), while the key-cardinality-bounded count tables and the
    * shipped ledger (one row per doc — the release output itself) are
    * rewritten. No prior data row is ever rewritten. Two tables need
    * read-time semantics instead of pure append:
    *   - span owners: stale prior rows stay on disk after a delta doc
    *     steals a key; the read-back min-merges per key (associative,
    *     q148's rule), the LSM-style compact-on-read a 100 TB store
    *     runs anyway;
    *   - drops/pairs accumulate monotonically (q170's gated theorem:
    *     removed_docs = 0), so append IS the maintenance.
    * Gated end-to-end by q177 against q162's full-rebuild oracle.
    */
  private def appendMaintainedArtifacts(s: SparkSession, key: String,
      prior: => RelArtifacts, delta: DataFrame, deltaEmb: DataFrame,
      corpus: DataFrame, priorDocs: DataFrame): RelArtifacts = {
    val dir = CoreQueries.sharedInputDir(key) { p =>
      var cached = List.empty[DataFrame]
      val next = ledgerMaintainStep(prior, delta, deltaEmb, corpus,
        priorDocs, onPersist = f => cached ::= f)
      val appended = Seq(
        "sig" -> (prior.sig, next.sig),
        "shsig" -> (prior.shSig, next.shSig),
        "cellidx" -> (prior.cellIdx, next.cellIdx),
        "spanown" -> (prior.spanOwn, next.spanOwn),
        "spancnt" -> (prior.spanCnt, next.spanCnt),
        "drops" -> (prior.drops, next.drops),
        "pairs" -> (prior.pairs, next.pairs))
      // phase 1: seed the prior release's tables (independent dirs —
      // concurrent, guide §2.6; round 19); phase 2 appends must wait
      // for their OWN dir's seed, so the phases are barriered, but the
      // count/ledger rewrites touch distinct dirs and join phase 2
      graft.util.ParallelWrite.run(appended.map { case (n, (pr, _)) =>
        () => pr.write.mode("overwrite").parquet(s"$p/$n") })
      graft.util.ParallelWrite.run(
        appended.map { case (n, (pr, nx)) => () =>
          nx.exceptAll(pr).write.mode("append").parquet(s"$p/$n") } ++
        Seq("sigcnt" -> next.sigCnt, "shcnt" -> next.shCnt,
            "cellcnt" -> next.cellCnt, "ledger" -> next.ledger)
          .map { case (n, df) => () =>
            df.write.mode("overwrite").parquet(s"$p/$n") })
      cached.foreach(_.unpersist())
    }
    def rd(n: String) = s.read.parquet(s"$dir/$n")
    RelArtifacts(rd("sig"), rd("sigcnt"), rd("shsig"), rd("shcnt"),
      rd("cellidx"), rd("cellcnt"),
      // compact-on-read: min-merge the appended owner claims
      rd("spanown").groupBy(col("k"))
        .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
        .select(col("k"), col("o.doc_id").as("doc_id"),
          col("o.span_idx").as("span_idx")),
      rd("spancnt"), rd("drops"), rd("pairs"), rd("ledger"))
  }

  /** The v2 release built by MAINTENANCE over the full delta,
    * materialized — the bundle q168's step actually ships. The
    * maintained-corpus reports (q172 card, q173 diff) consume THIS
    * ledger's kept set, not the rebuild's; their rebuild-derived
    * oracles then re-gate maintained ≡ rebuilt at the report level.
    */
  private def maintainedRelease(s: SparkSession, d: String): RelArtifacts = {
    val docs = Tables.documents(s, d)
    maintainedArtifacts(s, s"graft_mntv2_${CoreQueries.dirToken(d)}",
      v1Artifacts(s, d), docs.filter(isDeltaDoc(col("doc_id"))),
      Tables.embeddings(s, d).filter(isDeltaDoc(col("vec_id"))),
      corpus = docs, priorDocs = docs.filter(!isDeltaDoc(col("doc_id"))))
  }

  /** The 7-metric dataset-card frame shared by q155/q172/q173 (q150
    * adds the vocab-dependent oov row on top): corpus-shape scalars in
    * one aggregate + the memoized BPE token total, stacked to
    * (metric, value) rows.
    */
  private def releaseCard(dd: DataFrame, ee: DataFrame): DataFrame = {
    val base = dd.agg(
      count(lit(1)).cast("double").as("n_docs"),
      countDistinct(col("source")).cast("double").as("n_sources"),
      avg(length(col("text"))).as("avg_doc_chars"),
      sum(size(TA.wsTokens(lower(col("text"))))).cast("double")
        .as("n_words"),
      countDistinct(md5(lower(substring(col("text"), 1, 40))))
        .cast("double").as("n_keys"))
    val bpe = ee.agg(sum(col("n_tokens")).cast("double").as("n_bpe"))
    base.crossJoin(broadcast(bpe)).select(expr(
      """stack(7,
         'avg_doc_chars', avg_doc_chars,
         'bpe_fertility', n_bpe / n_words,
         'exact_dup_frac', 1.0 - n_keys / n_docs,
         'n_bpe_tokens', n_bpe,
         'n_docs', n_docs,
         'n_sources', n_sources,
         'n_words', n_words)""")
      .as(Seq("metric", "value")))
  }

  /** The four detector pipelines, verbatim — the artifact WRITE path
    * (full corpus). */
  private def dropSetsRecompute(s: SparkSession, d: String): DataFrame =
    dropSetsRecomputeFrom(Tables.documents(s, d), corpusSignatures(s, d),
      Tables.embeddings(s, d))

  /** The four detector pipelines over EXPLICIT inputs — the full-
    * corpus artifact path above and the v1-release path (q167: base
    * docs + the q95 base signature artifact + base embeddings) run the
    * SAME code, so a release's ledger and the current ledger cannot
    * desynchronize on detector rules.
    */
  private def dropSetsRecomputeFrom(docs: DataFrame, sig: DataFrame,
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

  /** q130's one-Lloyd-step PQ codebook, collected once per input dir
    * (the training artifact is 1024 doubles — q96's bounded-collect +
    * memoization discipline) and shared by q131 (distortion gain) and
    * q136 (trained-ADC recall). Rows: (sub, c, c_vals-ordered-by-pos).
    */
  private val pqRefinedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Int, Seq[Double])]]()

  private[graft] def pqRefinedCodebook(s: SparkSession,
      d: String): Seq[(Int, Int, Seq[Double])] =
    pqRefinedCache.computeIfAbsent(d, { _ =>
      Similarity.pqTrainIteration(Tables.embeddings(s, d), "vec_id", "embedding")
        .collect()
        .groupBy(r => (r.getLong(0).toInt, r.getLong(1).toInt))
        .map { case ((sub, c), rows) =>
          (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
        .toSeq.sortBy(x => (x._1, x._2))
    })

  /** The IVF-PQ residual TRAINING pair, collected and memoized per
    * (input dir, slice): the one-Lloyd COARSE centroids (q74's
    * k-means iteration — cell → 64 rounded component means, 16×64
    * doubles) and the one-Lloyd RESIDUAL codebook (the q130 trainer
    * pointed at vec − centroid(cell), static [[Similarity.pqVal]]
    * init — 1024 doubles). `baseOnly = true` trains on the md5 base
    * slice only: the FROZEN artifacts an incremental index
    * maintenance path (q232) applies to delta batches without
    * retraining (q193's frozen-model discipline at the index rung).
    * Cells/centroids that captured no members simply don't appear
    * (the oracle's replay drops the same rows).
    */
  private val ivfTrainCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])])]()

  private[graft] def ivfPqTrained(s: SparkSession, d: String,
      baseOnly: Boolean): (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) =
    ivfTrainCache.computeIfAbsent(s"$d#${if (baseOnly) "base" else "all"}", { _ =>
      // training population = the oracle's usableVec contract exactly
      // (non-null, non-empty, norm > 0): the downstream null/empty
      // filters alone would let a zero-norm vector desynchronize the
      // trained artifacts between engines (ADVICE r16 #2)
      val emb0 = Tables.embeddings(s, d).filter(
        Similarity.dotFold(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")) > 0)
      val emb = if (baseOnly)
        emb0.filter(!substring(md5(col("vec_id").cast("string")), 1, 1)
          .isin("0", "1", "2"))
      else emb0
      val coarse = Similarity.kmeansIteration(emb, "vec_id", "embedding")
        .collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (cell, rows) =>
          (cell, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq) }
        .toSeq.sortBy(_._1)
      val resid = Similarity
        .pqTrainIteration(residualFrameOf(emb, coarse), "vec_id", "resid")
        .collect()
        .groupBy(r => (r.getLong(0).toInt, r.getLong(1).toInt))
        .map { case ((sub, c), rows) =>
          (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
        .toSeq.sortBy(x => (x._1, x._2))
      (coarse, resid)
    })

  /** Collected codebook rows → the ordered-centroid-list map the
    * [[Similarity.pqAdcTopKWith]]-family consumers index by position.
    */
  private def codebookMap(
      rows: Seq[(Int, Int, Seq[Double])]): Map[Int, Seq[Seq[Double]]] =
    rows.groupBy(_._1).map { case (sub, xs) => sub -> xs.sortBy(_._2).map(_._3) }

  /** Per-vector residual against the given coarse centroids
    * (vec − centroid(cell)) — the frame the residual codebook trains
    * on. Same rounded-argmax/low-cell assignment as every IVF path.
    */
  private def residualFrameOf(emb: DataFrame,
      coarse: Seq[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame =
    // scan-stage argmax + literal centroid gather (round 18): the
    // former crossJoin(16 cells) + window shuffled the 16× vector
    // fan-out by vec_id just to pick the argmax — same rounded-dot/
    // low-cell discipline, zero exchanges now
    emb
      .select(col("vec_id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull && size(col("vec")) > 0)
      .withColumn("cell", Similarity.bestCellOf(col("vec"), coarse))
      .select(col("vec_id"),
        // == the former zip_with(vec, centroid, -) HOF: compiled
        // residual subtract (VecSub, round 18, guide §4)
        Similarity.vecSub(col("vec"),
          Similarity.centroidOf(col("cell"), coarse)).as("resid"))

  /** The ANISOTROPIC rehearsal slice for the OPQ-lite family
    * (q183/q184): usable embeddings with dims 0–7 scaled 4× — the
    * shape a real encoder produces when a few latent directions carry
    * most of the energy (PCA-style spectra), concentrated into PQ
    * subspace 0 under the identity layout so layout choice MATTERS.
    * On the isotropic raw fixture variance-balancing is a no-op (the
    * r11/r12 standing-skip rationale); this fixture is what makes the
    * OPQ gain measurable and gateable. Usability filter = the shared
    * vector contract (non-null, non-empty, norm > 0), applied HERE so
    * the variance aggregate, the trainer, and the MSE scan all see
    * the identical row set the oracle's `u` CTE derives.
    */
  private[graft] def anisoEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .filter(col("v0").isNotNull && size(col("v0")) > 0)
      .select(col("vec_id"),
        // == transform(v0, (x,i) => x * when(i<8, 4.0, 1.0)), compiled
        // (IndexWeight, round 19): pushdown inlined the interpreted
        // lambda up to 6× per Filter condition in the q237 family
        // (VERDICT r18 #1); the kernel is cheap per copy and CSE-able
        Similarity.indexWeight(col("v0"), 8, 4.0).as("vec"))
      .filter(Similarity.dotFold(col("vec"), col("vec")) > 0)

  /** q184's per-dimension variance artifact + the variance-balanced
    * layout derived from it — ONE corpus aggregate (64 rounded
    * doubles) collected and memoized per input dir (the PQ-codebook
    * collect discipline), then [[Similarity.balancedLayout]]'s snake
    * deal on the driver. Rounding at 6 happens IN Spark SQL so the
    * rank order is derived from exactly the values the oracle's
    * `var_pop` CTE rounds the same way.
    */
  private val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Double], Seq[Int])]()

  private[graft] def opqVarLayout(s: SparkSession, d: String): (Seq[Double], Seq[Int]) =
    opqCache.computeIfAbsent(d, { _ =>
      val aggs = (0 until 64).map(i =>
        round(var_pop(element_at(col("vec"), i + 1)), 6).as(s"v$i"))
      val r = anisoEmb(s, d).agg(aggs.head, aggs.tail: _*).collect()(0)
      val vars = (0 until 64).map(r.getDouble)
      (vars, Similarity.balancedLayout(vars))
    })

  /** Trained (one-Lloyd-step) codebook per (input dir, layout) — the
    * [[pqRefinedCodebook]] discipline generalized over the OPQ layout:
    * 1024 doubles collected once per session, inlined as literals by
    * every MSE consumer.
    */
  private val opqRefinedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[(Int, Int, Seq[Double])]]()

  private[graft] def opqRefined(s: SparkSession, d: String, layout: String,
      perm: Seq[Int]): Seq[(Int, Int, Seq[Double])] =
    opqRefinedCache.computeIfAbsent((d, layout), { _ =>
      Similarity.pqTrainIterationPerm(anisoEmb(s, d), "vec_id", "vec", perm)
        .collect()
        .groupBy(r => (r.getLong(0).toInt, r.getLong(1).toInt))
        .map { case ((sub, c), rows) =>
          (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
        .toSeq.sortBy(x => (x._1, x._2))
    })

  /** The RESIDUAL-rung OPQ training bundle (VERDICT r16 #3), memoized
    * per input dir: one trained-coarse Lloyd step over the
    * anisotropic rehearsal corpus ([[anisoEmb]] — where layout choice
    * measurably matters), the per-dimension variances of the
    * RESIDUAL frame those cells leave behind (the energy the PQ
    * codebook actually has to span — q184 ranked RAW dims; at this
    * rung the layout must rank what gets encoded), and the
    * variance-balanced layout dealt from them. All bounded artifacts
    * (16×64 + 64 + 64 values) — the pqRefinedCodebook collect
    * discipline.
    */
  private val anisoResidCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, Seq[Double])], Seq[Int])]()

  private[graft] def anisoResidualBase(s: SparkSession,
      d: String): (Seq[(Int, Seq[Double])], Seq[Int]) =
    anisoResidCache.computeIfAbsent(d, { _ =>
      val emb = anisoEmb(s, d)
      val coarse = Similarity.kmeansIteration(emb, "vec_id", "vec")
        .collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (cell, rows) =>
          (cell, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq) }
        .toSeq.sortBy(_._1)
      val rf = residualFrameOf(emb, coarse, vecCol = "vec")
      val aggs = (0 until 64).map(i =>
        round(var_pop(element_at(col("resid"), i + 1)), 6).as(s"v$i"))
      val r = rf.agg(aggs.head, aggs.tail: _*).collect()(0)
      val vars = (0 until 64).map(r.getDouble)
      (coarse, Similarity.balancedLayout(vars))
    })

  /** One-Lloyd residual codebook per (input dir, layout) over the
    * [[anisoResidualBase]] residual frame — [[opqRefined]]'s
    * discipline at the residual rung (1024 doubles, collected once,
    * inlined as literals by the encode/ADC/MSE consumers).
    */
  private val anisoResidCbCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Seq[(Int, Int, Seq[Double])]]()

  private[graft] def anisoResidualCb(s: SparkSession, d: String,
      layout: String, perm: Seq[Int]): Seq[(Int, Int, Seq[Double])] =
    anisoResidCbCache.computeIfAbsent((d, layout), { _ =>
      val (coarse, _) = anisoResidualBase(s, d)
      Similarity.pqTrainIterationPerm(
          residualFrameOf(anisoEmb(s, d), coarse, vecCol = "vec"),
          "vec_id", "resid", perm)
        .collect()
        .groupBy(r => (r.getLong(0).toInt, r.getLong(1).toInt))
        .map { case ((sub, c), rows) =>
          (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
        .toSeq.sortBy(x => (x._1, x._2))
    })

  /** The q238 slices, shared with q240: the usable-vector population,
    * its md5 base/delta split, and the encoder-drifted delta (dims
    * 0-7 ×4 — the aniso rehearsal rule applied to the incoming
    * slice). One definition so the trigger and its remediation ladder
    * cannot desynchronize on the drift model.
    */
  private def driftSlices(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val usable = Tables.embeddings(s, d).filter(
      Similarity.dotFold(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")) > 0)
    val base = usable.filter(!isDeltaDoc(col("vec_id")))
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val delta = usable.filter(isDeltaDoc(col("vec_id")))
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val shifted = delta.select(col("vec_id"),
      // compiled aniso weighting — see [[anisoEmb]] (round 19)
      Similarity.indexWeight(col("embedding"), 8, 4.0).as("embedding"))
    (base, delta, shifted)
  }

  /** The q240 RETRAIN bundle, memoized per input dir: one Lloyd
    * coarse step over the post-drift corpus (base ∪ shifted), the
    * identity-layout residual codebook, and the OPQ remediation —
    * balanced layout from the post-drift residual variances plus its
    * codebook. All bounded artifacts (the q229/q237 collect
    * discipline); the residual frame is persisted across its three
    * consumers inside the one training pass.
    */
  private val driftTrainCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, Seq[Double])], Seq[Int],
      Seq[(Int, Int, Seq[Double])], Seq[(Int, Int, Seq[Double])])]()

  private[graft] def driftRetrained(s: SparkSession, d: String):
      (Seq[(Int, Seq[Double])], Seq[Int],
       Seq[(Int, Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) =
    driftTrainCache.computeIfAbsent(d, { _ =>
      val (base, _, shifted) = driftSlices(s, d)
      val mixed = base.unionByName(shifted)
      val coarse = Similarity.kmeansIteration(mixed, "vec_id", "embedding")
        .collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (cell, rows) =>
          (cell, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq) }
        .toSeq.sortBy(_._1)
      val rf = graft.util.Persist(residualFrameOf(mixed, coarse))
      val aggs = (0 until 64).map(i =>
        round(var_pop(element_at(col("resid"), i + 1)), 6).as(s"v$i"))
      val r = rf.agg(aggs.head, aggs.tail: _*).collect()(0)
      val perm = Similarity.balancedLayout((0 until 64).map(r.getDouble))
      def cbOf(p: Seq[Int]) = Similarity
        .pqTrainIterationPerm(rf, "vec_id", "resid", p)
        .collect()
        .groupBy(x => (x.getLong(0).toInt, x.getLong(1).toInt))
        .map { case ((sub, c), rows) =>
          (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
        .toSeq.sortBy(x => (x._1, x._2))
      val out = (coarse, perm, cbOf(0 until 64), cbOf(perm))
      rf.unpersist()
      out
    })

  /** The FROZEN residual-OPQ bundle for the REAL embeddings fixture
    * (VERDICT r17 #3), memoized per input dir: the q232 base-trained
    * coarse cells, the variance-balanced layout dealt from the BASE
    * residual frame's per-dim variances (what the deployed codebook
    * actually spans — [[anisoResidualBase]]'s rule on the production
    * population), and the residual codebook trained UNDER that
    * layout on the base residuals. This is the artifact bundle a
    * deployment freezes at release: q242's streaming maintenance
    * appends delta batches encoded through the SAME frozen perm, so
    * maintenance ≡ rebuild continues to hold with the permutation
    * carried. All bounded collects (16×64 + 64 + 1024 doubles — the
    * [[ivfPqTrained]] discipline).
    */
  private val ivfOpqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, Seq[Double])], Seq[Int], Seq[(Int, Int, Seq[Double])])]()

  private[graft] def ivfPqOpqTrained(s: SparkSession, d: String):
      (Seq[(Int, Seq[Double])], Seq[Int], Seq[(Int, Int, Seq[Double])]) =
    ivfOpqCache.computeIfAbsent(d, { _ =>
      val (coarse, _) = ivfPqTrained(s, d, baseOnly = true)
      // the exact training population ivfPqTrained(base) saw: the
      // oracle's usableVec contract + the md5 base rule
      val baseEmb = Tables.embeddings(s, d)
        .filter(Similarity.dotFold(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")) > 0)
        .filter(!substring(md5(col("vec_id").cast("string")), 1, 1)
          .isin("0", "1", "2"))
      val rf = graft.util.Persist(residualFrameOf(baseEmb, coarse))
      val aggs = (0 until 64).map(i =>
        round(var_pop(element_at(col("resid"), i + 1)), 6).as(s"v$i"))
      val r = rf.agg(aggs.head, aggs.tail: _*).collect()(0)
      val perm = Similarity.balancedLayout((0 until 64).map(r.getDouble))
      val cb = Similarity.pqTrainIterationPerm(rf, "vec_id", "resid", perm)
        .collect()
        .groupBy(x => (x.getLong(0).toInt, x.getLong(1).toInt))
        .map { case ((sub, c), rows) =>
          (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
        .toSeq.sortBy(x => (x._1, x._2))
      rf.unpersist()
      (coarse, perm, cb)
    })


  /** q96's 5-round BPE trainer loop, factored out so q122 can APPLY
    * the trained merge table. Each round: pair stats over the
    * vocab-sized distinct-word table (the ONLY corpus-wide shuffle is
    * the word-freq group-by, Persist'd once), argmax via a one-row
    * bounded collect, merge applied with one codegen'd replace. The
    * result is memoized per input dir — train once per session, every
    * consumer (q96's presentation, q122's encode chain) reads the same
    * table, the corpusSignatures discipline applied to the tokenizer.
    */
  private val bpeMergeCache =
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
  private def bpeEncoded(s: SparkSession, d: String): DataFrame = {
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

  /** The constant template string q175's skew rehearsal stamps over
    * half the corpus — the all-pages-share-a-boilerplate degenerate
    * shape the hot-bucket caps exist for. Long enough (~200 chars,
    * ~190 char-8-shingles) that every one of the 16 minhash nibble
    * buckets is filled, so all 8 bands get the hot key.
    */
  private[graft] val boilerplateText: String =
    "we use cookies to improve your experience on this site by " +
    "continuing to browse you accept our cookie policy privacy terms " +
    "apply all rights reserved copyright twenty twenty four contact " +
    "us subscribe to the newsletter"

  /** q175's deliberately skewed signature table: text replaced by
    * [[boilerplateText]] where the doc_id's md5 head is 0–7 (half the
    * corpus), then the production [[Dedup.bandedSignatures]] — every
    * band's boilerplate bucket holds ~n/2 docs, far over a cap of 100
    * at every fixture scale.
    */
  /** The boilerplate-stamped corpus shared by the skew rehearsals:
    * text replaced by [[boilerplateText]] where the doc_id's md5 head
    * is 0–7 (half the corpus). q175 runs the banded-signature
    * generator over it (hot minhash buckets); q186 runs the heavy-
    * hitter sketch over its word-8-gram stream (each boilerplate gram
    * lands in ~half the docs → a genuine >1 % hot key against a
    * ~0.015 %-max background).
    */
  private[graft] def stampedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      when(substring(md5(col("doc_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"),
        lit(boilerplateText)).otherwise(col("text")).as("text"))

  private[graft] def skewedSig(s: SparkSession, d: String): DataFrame =
    Dedup.bandedSignatures(stampedDocs(s, d), "text", "doc_id", k = 8)

  /** DSIR hashed-bigram occurrences over a documents-shaped frame:
    * one row per bigram occurrence with its 128-way md5 bucket.
    * Shared by q185 (whole-corpus model) and q193 (base-trained
    * frozen model applied to the delta ingest).
    */
  private def dsirBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), TA.normWords(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => pmod(conv(substring(md5(concat(
            element_at(col("w"), i), lit(" "), element_at(col("w"), i + 1))),
            1, 4), 16, 10).cast("long"), lit(128)))).as("b"))

  /** The ≤128-row smoothed log-likelihood-ratio table over a bigram-
    * occurrence frame (target = src0's occurrences): llr(b) =
    * ln((t_b+1)/(T+128)) − ln((r_b+1)/(R+128)), ROUNDED at 6 (the
    * inlined-artifact contract — per-term identical across engines so
    * the per-doc sums agree at the output rounding).
    */
  private def dsirLlr(occ: DataFrame): DataFrame = {
    // full 128-bucket spine: the frozen model (q193) must define an
    // llr for buckets the TRAINING slice never produced (smoothing
    // covers them); for q185 the spine rows are never joined, so its
    // output is unchanged
    val spine = occ.sparkSession.range(128).select(col("id").as("b"))
    val st0 = occ.groupBy(col("b"))
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("t_n"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("r_n"))
    val st = graft.util.Persist(spine.join(st0, Seq("b"), "left")
      .select(col("b"), coalesce(col("t_n"), lit(0L)).as("t_n"),
        coalesce(col("r_n"), lit(0L)).as("r_n")))
    stepOnPersist(st)
    // totals via an unpartitioned window — st is ≤128 rows by
    // construction, so the single-partition window is a no-op risk
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    st
      .withColumn("tt", sum(col("t_n")).over(wAll))
      .withColumn("rt", sum(col("r_n")).over(wAll))
      .select(col("b"), round(
        log((col("t_n") + 1.0) / (col("tt") + 128.0)) -
        log((col("r_n") + 1.0) / (col("rt") + 128.0)), 6).as("llr"))
  }

  /** Per-doc DSIR weights: Σ occurrences · llr over the broadcast
    * ≤128-row table, rounded at 6.
    */
  private def dsirWeights(occ: DataFrame, llr: DataFrame): DataFrame =
    occ.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .join(broadcast(llr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        round(sum(col("n") * col("llr")), 6).as("log_w"))

  /** Boundary-respecting sequence packer — greedy first-fit-decreasing
    * (the classic FFD bin-packing heuristic, Johnson 1973, applied to
    * training-sequence assembly as in Krell et al. 2022, "Efficient
    * Sequence Packing without Cross-contamination") over WHOLE
    * documents (the loader practice q194's purity report
    * motivates: a doc never splits across training sequences, so no
    * sequence carries a truncated doc fragment; a doc longer than the
    * budget is TRUNCATED to exactly one full sequence — the
    * truncate-or-new-sequence rule). Per source shard, docs are taken
    * in (capped-size DESC, doc_id ASC) order and placed into the FIRST
    * open sequence with enough remaining budget; none fits → a new
    * sequence opens. Input: (doc_id, source, n_tokens); output: q192's
    * manifest shape collapsed to one sequence per doc (seq_id,
    * offset_in_seq) plus the waste columns `n_kept` / `n_dropped`
    * (truncation loss — the only tokens FFD ever loses; pad waste is
    * per-sequence and reported by q196).
    *
    * The fold is genuinely sequential PER SOURCE SHARD — exactly the
    * unit a real loader packs independently — so this is the
    * documented mapPartitions last-resort: imperative per-partition
    * state (the open-bin table) that no declarative operator
    * expresses (q61/q192's prefix-sum trick only works when sequences
    * never close early). One hash shuffle on source co-locates each
    * shard; the fold is a single linear scan per shard. At 100 TB the
    * shard key is (source × bounded file split) — the same bound that
    * keeps q61's window finite — which caps both the sort and the
    * open-bin state; the linear first-fit probe here is the
    * fixture-scale form of the standard max-segment-tree over bin
    * remainders (leftmost bin with remaining ≥ t in O(log bins)).
    */
  /** The 512-token sequence budget of the FFD packing family — ONE
    * constant interpolated into [[ffdPack]], q196's waste arithmetic,
    * and the [[ffdFoldSqlFor]]/q196 oracle SQL (ADVICE r14: the
    * literal was re-spelled independently at each site, defeating the
    * "must never diverge" comment that keeps ffdPack non-parametric).
    * Wave17Spec's conservation invariants reference it too.
    */
  private[graft] val packBudget = 512L

  private[graft] def ffdPack(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the budget is the registry-wide packing constant —
    // deliberately NOT a parameter here: a per-call budget would
    // silently diverge from the oracle fold and the q196 waste
    // arithmetic, which interpolate the same [[packBudget]]
    val budget = packBudget
    val prepared = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        col("source").cast("string").as("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        least(col("n_tokens"), lit(budget)).as("t"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("t").desc, col("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = true),
      StructField("n_tokens", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("offset_in_seq", LongType, nullable = false),
      StructField("n_kept", LongType, nullable = false),
      StructField("n_dropped", LongType, nullable = false)))
    val packed = prepared.rdd.mapPartitions { it =>
      // hash-partitioned by source and sorted (source, t desc, doc_id):
      // every source is contiguous within one partition, so one
      // open-bin table per source suffices and resets on source change
      var curSrc: String = null
      val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.map { r =>
        val docId = r.getLong(0); val src = r.getString(1)
        val n = r.getLong(2); val t = r.getLong(3)
        if (src != curSrc) { curSrc = src; rem.clear() }
        var i = 0
        while (i < rem.length && rem(i) < t) i += 1
        val (seq, off) =
          if (i < rem.length) { val o = budget - rem(i); rem(i) -= t; (i.toLong, o) }
          else { rem += (budget - t); (rem.length - 1L, 0L) }
        Row(docId, src, n, seq, off, t, n - t)
      }
    }
    docs.sparkSession.createDataFrame(packed, schema)
  }

  /** Shard count of the training-order family (q230/q233) — ONE
    * constant interpolated into both the Spark shard rule and the
    * oracle SQL so the two sides cannot diverge (the [[packBudget]]
    * discipline). Deploy-time override via GRAFT_ORDER_SHARDS: at
    * 100 TB the shard count is sized so a manifest/nShards slice fits
    * one task (tens of thousands of shards), not this fixture default.
    * Counts beyond 16 would also widen the 1-hex-char hash prefix the
    * rule draws from — the rule is honest only for nShards ≤ 16.
    */
  private[graft] val orderShards: Int = {
    val raw = sys.env.get("GRAFT_ORDER_SHARDS")
    val n = try raw.map(_.trim.toInt).getOrElse(8)
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"GRAFT_ORDER_SHARDS must be an integer in [1, 16], got " +
          s"'${raw.getOrElse("")}'")
    }
    // the shard rule draws from ONE hex char of the md5 prefix:
    // n <= 0 breaks the pmod/% rule outright, and n > 16 would leave
    // shards 16..n-1 permanently empty (16 distinct draws can never
    // cover them) — fail loudly at load instead (ADVICE r17 #1)
    require(n >= 1 && n <= 16,
      s"GRAFT_ORDER_SHARDS must be in [1, 16] (the shard rule draws " +
        s"from a 1-hex-char md5 prefix — 16 distinct values), got $n")
    n
  }

  /** CLOSED-FORM round-robin rank (VERDICT r16 #1): the global
    * training-order position of a sequence is pure per-row arithmetic
    * given the bounded per-source span frame — never a global sort.
    * q230/q233 previously ranked the corpus-sized manifest through
    * `Window.orderBy(src_pos, source)`, an `Exchange SinglePartition`
    * over ~|corpus tokens|/[[packBudget]] rows (~2 BILLION rows per
    * trillion tokens — a single-task sort at any real scale).
    *
    * `spans` holds one row per source: `lo` = the source's first
    * absolute src_pos (0 for a fresh release; the released per-source
    * count for an appended block) and `n` = its row count, so a
    * source's positions occupy [lo, lo+n). For the row of source s at
    * absolute position k, the round-robin rank by (src_pos, source) is
    *
    *   Σ_{s'} clamp(k − lo_{s'}, 0, n_{s'})        rows strictly below k
    *   + |{s' < s : lo_{s'} ≤ k < lo_{s'}+n_{s'}}| same-k sources before s
    *
    * The span frame is source-cardinality-bounded, collected into ONE
    * array row and broadcast; the rank is then scan-stage lambda
    * arithmetic — the q233 cross-release offset discipline applied
    * WITHIN a release. Wave28Spec pins arithmetic ≡ window rank
    * row-for-row on the fixture.
    */
  private[graft] def interleaveRank(manifest: DataFrame,
      spans: DataFrame): DataFrame = {
    val arr = spans.agg(collect_list(struct(
      col("source").as("s"), col("lo").cast("long").as("lo"),
      col("n").cast("long").as("n"))).as("spans"))
    manifest.crossJoin(broadcast(arr))
      .withColumn("global_pos", expr(
        """aggregate(spans, 0L, (acc, x) ->
             acc + greatest(least(src_pos - x.lo, x.n), 0L)
                 + IF(x.s < source AND x.lo <= src_pos
                      AND src_pos < x.lo + x.n, 1L, 0L))"""))
      .drop("spans")
  }

  /** CLOSED-FORM WEIGHTED interleave rank (the [[interleaveRank]]
    * discipline for UNEQUAL stream lengths): within each phase, order
    * rows by the position fraction ((src_pos+1)/n_source, source) —
    * every source spread evenly across the phase block, consecutive
    * same-source rows n_phase/n_source apart, i.e. spacing ∝ 1/weight
    * when row counts realize the committed mixture. The rank is again
    * pure scan arithmetic over a bounded span broadcast: rows of s'
    * strictly below the fraction (k+1)/n_s number
    *
    *   min( floor(((k+1)·n_{s'} − 1) / n_s), n_{s'} )
    *
    * (integer cross-multiplication — no floating-point key anywhere),
    * plus the exact-tie sources before s: (k+1)·n_{s'} ≡ 0 mod n_s.
    * `manifest` needs (phase, source, src_pos, dn = own row count);
    * `spans` is (phase, source, n), phase×source-cardinality-bounded.
    * Scale note (VERDICT r17 #1): the cross products reach
    * (rows-per-source)² — ~4e18 at a trillion-token source, PAST
    * Long.MaxValue (9.2e18) once a source holds ~3e9 rows, which a
    * 100 TB corpus with one dominant source does — so the
    * cross-multiplication runs in DECIMAL(38,0) (DuckDB: HUGEINT).
    * Long² caps at ~8.5e37 < 10³⁸−1, so the widened product can
    * NEVER overflow; the quotient/tie terms fall back to longs
    * (`div` on decimals yields BIGINT, and the quotient is ≤ x.n, a
    * row count). Wave28Spec pins arithmetic ≡ exact-fraction sort
    * row-for-row; Wave29Spec pins the overflow regime against BigInt
    * on synthetic spans with n·src_pos past 2⁶³.
    */
  private[graft] def weightedInterleaveRank(manifest: DataFrame,
      spans: DataFrame): DataFrame = {
    val arr = spans.agg(collect_list(struct(
      col("phase").as("p"), col("source").as("s"),
      col("n").cast("long").as("n"))).as("spans"))
    manifest.crossJoin(broadcast(arr))
      .withColumn("phase_pos", expr(
        """aggregate(spans, 0L, (acc, x) -> acc + IF(x.p = phase,
             least((CAST(src_pos + 1L AS DECIMAL(20,0)) * x.n - 1L)
               div dn, x.n)
             + IF(x.s < source AND
                  (CAST(src_pos + 1L AS DECIMAL(20,0)) * x.n) % dn = 0L,
                  1L, 0L),
             0L))"""))
      .drop("spans")
  }

  /** FUSED chained mixture-order (round 19, VERDICT r18 #4/#5): the
    * q241/q250 release→append chain in ONE pass instead of a
    * per-step Scala fold. The chained fold packed each ingest
    * separately, offset its seq ids past a `greatest`/full-join
    * cursor, ordered each block with its own window stack +
    * [[weightedInterleaveRank]] call, and shifted positions past
    * per-step count broadcasts — 3 pack shuffles, 6 window passes and
    * ~24 bounded-frame jobs for q250, with a 1400-node plan of
    * chained persisted unions. This closed form produces the
    * IDENTICAL rows from one pack + one window stack:
    *
    *  - ONE [[ffdPack]] under the `origin:phase:source` composite key
    *    — FFD packs each source group independently and
    *    deterministically (capped-size DESC, doc_id ASC), so each
    *    (origin, phase, source) group packs exactly as the per-step
    *    pack did;
    *  - the seq-id cursor has a closed form: the `greatest(prev,
    *    max+1)` / full-join recurrence unrolls to
    *    offset(step k, ps) = Σ_{j<k, ps∈step j} (local max seq + 1)
    *    — a running-sum window over the (origin × phase × source)-
    *    bounded per-group maxima, ordered by chain position (each
    *    step's shifted max+1 = its offset + local max + 1 ≥ the
    *    previous cursor, so `greatest` always takes the new value
    *    when the source appears, and the full join keeps the old one
    *    when it doesn't);
    *  - ONE [[weightedInterleaveRank]] over all blocks at once, the
    *    match key widened to the `origin:phase` composite (the rank
    *    only ever compares phase keys for EQUALITY, so a composite
    *    string key partitions the blocks exactly as separate calls
    *    did);
    *  - the per-step src_pos/global_pos shifts (counts of everything
    *    shipped before) are running sums over the same bounded span
    *    frame, ordered by chain position.
    *
    * Row-for-row equivalence to the chained fold is pinned by
    * Wave32Spec (the old fold inlined in the spec, compared on the
    * fixture) and the unchanged q241/q250 DuckDB oracles.
    *
    * `ph` is the phased doc frame (doc_id, source = "phase:source",
    * n_tokens > 0); `fill` the frozen water-fill epochs; `steps` the
    * chain as (origin label, membership predicate on doc_id-derived
    * columns) in ship order — the predicates must partition `ph`.
    */
  private[graft] def chainedMixtureOrder(ph: DataFrame, fill: DataFrame,
      steps: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(steps.size >= 2, "chainedMixtureOrder: need a chain")
    // origin index = position in the chain (all cursors read low→high)
    val oCol = steps.init.zipWithIndex
      .foldLeft(null: Column) { case (acc, ((_, pred), i)) =>
        if (acc == null) when(pred, lit(i.toLong))
        else acc.when(pred, lit(i.toLong))
      }.otherwise(lit(steps.size - 1L))
    val originNames = array(steps.map(st => lit(st._1)): _*)
    // ONE pack under the origin-composite key
    val packed = ffdPack(ph.select(col("doc_id"),
      concat_ws(":", oCol, col("source")).as("source"), col("n_tokens")))
    val seqs0 = packed.groupBy(col("source"), col("seq_id"))
      .agg(sum(col("n_kept")).as("kept_tokens"))
      .select(split(col("source"), ":").getItem(0).cast("long").as("o"),
        split(col("source"), ":").getItem(1).cast("long").as("phase"),
        split(col("source"), ":").getItem(2).as("source"),
        col("seq_id"), col("kept_tokens"))
    // closed-form seq cursor (see docstring): running sum of per-step
    // (max seq + 1) over prior chain positions, per (phase, source)
    val wCur = Window.partitionBy(col("phase"), col("source"))
      .orderBy(col("o")).rowsBetween(Window.unboundedPreceding, -1)
    val off = seqs0.groupBy(col("o"), col("phase"), col("source"))
      .agg((max(col("seq_id")) + 1).as("m"))
      .withColumn("seq_off", coalesce(sum(col("m")).over(wCur), lit(0L)))
      .select(col("o"), col("phase"), col("source"), col("seq_off"))
    val seqs = seqs0.join(broadcast(off), Seq("o", "phase", "source"))
      .withColumn("seq_id", col("seq_id") + col("seq_off"))
      .drop("seq_off")
    // q236's ordered-block body, every frame keyed by origin too
    val np = seqs.groupBy(col("o"), col("phase"), col("source"))
      .agg(count(lit(1)).as("n_ps"))
    val ep = np.join(fill, Seq("source"))
      .withColumn("fe", floor(col("final_epochs")))
      .withColumn("n_part", floor(round(
        (col("final_epochs") - floor(col("final_epochs")).cast("double"))
          * col("n_ps").cast("double"), 6)))
      .select(col("o"), col("phase"), col("source"), col("fe"),
        col("n_part"))
    val wEp = Window.partitionBy(col("o"), col("phase"), col("source"),
      col("epoch")).orderBy(col("draw"), col("seq_id"))
    val wSrc = Window.partitionBy(col("o"), col("phase"), col("source"))
      .orderBy(col("epoch"), col("draw"), col("seq_id"))
    val rows = graft.util.Persist(
      seqs.join(broadcast(ep), Seq("o", "phase", "source"))
        .withColumn("epoch", explode(sequence(lit(0L), col("fe"))))
        .withColumn("draw", substring(md5(concat_ws(":",
          lit("graft-order-v2"), col("epoch").cast("string"),
          col("phase").cast("string"), col("source"),
          col("seq_id").cast("string"))), 1, 8))
        .withColumn("er", row_number().over(wEp).cast("long"))
        .filter(col("epoch") < col("fe") || col("er") <= col("n_part"))
        .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1)
        .select(col("o"), col("phase"), col("source"), col("seq_id"),
          col("epoch"), col("kept_tokens"), col("draw"), col("src_pos")))
    val spans = rows.groupBy(col("o"), col("phase"), col("source"))
      .agg(count(lit(1)).as("n"))
    // ONE weighted rank, match key = the origin:phase composite
    val manifest = rows
      .join(broadcast(spans.withColumnRenamed("n", "dn")),
        Seq("o", "phase", "source"))
      .withColumnRenamed("phase", "phase_l")
      .withColumn("phase", concat_ws(":", col("o"), col("phase_l")))
    val ranked = weightedInterleaveRank(manifest,
        spans.select(concat_ws(":", col("o"), col("phase")).as("phase"),
          col("source"), col("n")))
      .drop("phase").withColumnRenamed("phase_l", "phase")
    // phase offsets within each block + chained position shifts —
    // all running sums over the one bounded span frame
    val wPh = Window.partitionBy(col("o")).orderBy(col("phase"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val phOff = spans.groupBy(col("o"), col("phase"))
      .agg(sum(col("n")).as("np"))
      .withColumn("poff", coalesce(sum(col("np")).over(wPh), lit(0L)))
      .select(col("o"), col("phase"), col("poff"))
    val wOg = Window.orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = spans.groupBy(col("o")).agg(sum(col("n")).as("bn"))
      .withColumn("tc", coalesce(sum(col("bn")).over(wOg), lit(0L)))
      .select(col("o"), col("tc"))
    val wRc = Window.partitionBy(col("phase"), col("source"))
      .orderBy(col("o")).rowsBetween(Window.unboundedPreceding, -1)
    val rc = spans
      .withColumn("rc", coalesce(sum(col("n")).over(wRc), lit(0L)))
      .select(col("o"), col("phase"), col("source"), col("rc"))
    ranked.join(broadcast(phOff), Seq("o", "phase"))
      .join(broadcast(rc), Seq("o", "phase", "source"))
      .join(broadcast(tot), Seq("o"))
      .select((col("phase_pos") + col("poff") + col("tc")).as("global_pos"),
        col("phase"), col("source"), col("seq_id"), col("epoch"),
        (col("src_pos") + col("rc")).as("src_pos"),
        col("kept_tokens"), col("draw"),
        element_at(originNames, (col("o") + 1).cast("int")).as("origin"))
      .orderBy(col("global_pos"))
  }

  /** The positional word-8-gram hash stream over a (doc_id, text)
    * frame — q59's gh space, occurrence-level (NOT per-doc distinct:
    * the heavy-hitter queries count the stream). Shared by q186's
    * batch sketch and q190's per-batch streaming sketches.
    */
  private def gramStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TA.normWords(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 7),
        i => substring(md5(array_join(slice(col("w"), i, lit(8)), " ")),
          1, 16))).as("gh"))

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

  /** q180's span-excision pipeline, factored so q188's remedy-cost
    * report can consume the same per-doc (n_tokens, n_removed,
    * kept_frac, clean_fp) frame the gated query publishes. A train
    * token is excised iff ANY sliding word-8-gram window covering it
    * matches a held-split gram (Lee et al. 2022's remedy); the doc
    * survives with its leaked windows cut. See q180's registration
    * for the full scale notes.
    */
  private def spanExcision(s: SparkSession, d: String): DataFrame = {
    drainStepCache()
    val emptyFp = substring(md5(lit("")), 1, 16)
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
      TA.normWords(col("text")).as("w"))
    val held = splitGrams(s, d).filter(col("hb") === "0")
      .select(col("gh")).distinct()
    // three consumers (leaked, kept, out); registered with the step
    // cache so the next maintenance-class build drains it (the
    // query's own action must still see the cached frame)
    val train = graft.util.Persist(words.filter(col("hb") =!= "0"))
    stepOnPersist(train)
    // leaked window start positions (1-based): per-position gram
    // hashes (the composed form of WordGramHashes — positions matter
    // here, so the distinct fused expression doesn't apply)
    val leaked = train.filter(size(col("w")) >= 8)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - 7),
          i => substring(md5(array_join(slice(col("w"), i, lit(8)), " ")),
            1, 16))).as(Seq("i0", "gh")))
      .join(broadcast(held), Seq("gh"))
      .select(col("doc_id"), (col("i0") + 1).as("s"))
    val removed = leaked
      .select(col("doc_id"), explode(sequence(col("s"), col("s") + 7))
        .as("pos")).distinct()
    val kept = train
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
      .join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        substring(md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")), 1, 16).as("clean_fp"))
    train.select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        when(col("n_tokens") === 0, lit(1.0))
          .otherwise(round(coalesce(col("n_kept"), lit(0L)).cast("double")
            / col("n_tokens"), 6)).as("kept_frac"),
        coalesce(col("clean_fp"), emptyFp).as("clean_fp"))
  }

  /** Per-(source, bin) 256-equal-width-bin histogram counts of
    * n_chars under the boundary table `bounds` (source, lo, hi) —
    * bin ids in INTEGER arithmetic (((x−lo)·256) div (hi−lo), exact
    * in both engines), CLAMPED into [0, 255] so values outside the
    * boundary slice's range (q189's release-fixed boundaries) land in
    * the end bins; when the boundaries come from the same rows (q187)
    * the clamp is a no-op. The sketch is mergeable by construction:
    * counts are plain sums, and the per-source total is recoverable
    * from the sketch itself (every doc lands in exactly one bin) —
    * two map-side-combinable aggregates where the exact ladder needs
    * the per-(source, value) distinct-counts shuffle.
    */
  private[graft] def histBinCounts(docs: DataFrame, bounds: DataFrame): DataFrame =
    docs.join(broadcast(bounds), Seq("source"))
      .select(col("source"), col("lo"), col("hi"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(greatest(
            least(expr("((n_chars - lo) * 256) div (hi - lo)"), lit(255L)),
            lit(0L))).as("bin"))
      .groupBy(col("source"), col("lo"), col("hi"), col("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** The histogram-sketch quantile report shared by q187/q189:
    * p50/p95 estimated from the merged bin counts (uniform-within-bin
    * at the R-7 rank) next to the EXACT quantiles over `docs`, with
    * absolute errors. Each estimate is computed as ONE exact-integer
    * rational lo + num/den — the quantile p = pn/pd gives rank
    * h = (n-1)*pn/pd entirely in integer space (floor rank div, ceil
    * rank div-with-carry, fraction pmod/pd); the estimate at rank r
    * in cell (bin, cum, cnt) is lo + (hi-lo)*(2*bin*cnt + 2*(r-cum)
    * + 1)/(512*cnt), and the m/pd convex combination folds into the
    * numerator. ONE double division + one addition per estimate — no
    * multi-term float expression an FMA-capable engine can re-round
    * differently (the round-at-6 family rule can't help here: the
    * dyadic bin math lands EXACTLY on decimal .5 boundaries, where
    * the engines' round-half rules diverge; floor at 1e-6 of
    * identical doubles is identical). Integer range: num <=
    * (hi-lo)*pd*1024*cnt^2 — exact in BIGINT/LongType at every
    * fixture scale; a corpus deployment would widen to DECIMAL.
    */
  private[graft] def histReport(docs: DataFrame, binCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    val cum = binCounts
      .withColumn("n", sum(col("cnt")).over(bySrc))
      .withColumn("cum_before",
        coalesce(sum(col("cnt")).over(bySrc.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // the (bin, cum_before, cnt) cell holding the 0-based rank r —
    // exactly one bin matches, so max() just extracts it
    def rankCell(r: Column) =
      max(when(col("cum_before") <= r && r < col("cum_before") + col("cnt"),
        struct(col("bin"), col("cum_before"), col("cnt"))))
    def estExpr(pn: Int, pd: Int, f: String, c: String) = {
      val m = expr(s"pmod((hn - 1) * $pn, $pd)")
      val rF = expr(s"((hn - 1) * $pn) div $pd")
      val rC = expr(s"((hn - 1) * $pn + ${pd - 1}) div $pd")
      def k(x: String, r: Column) =
        lit(2) * col(s"$x.bin") * col(s"$x.cnt") +
          lit(2) * (r - col(s"$x.cum_before")) + lit(1)
      val num = (col("hi") - col("lo")) *
        ((lit(pd) - m) * k(f, rF) * col(s"$c.cnt") +
          m * k(c, rC) * col(s"$f.cnt"))
      val den = lit(512L) * col(s"$f.cnt") * col(s"$c.cnt") * lit(pd)
      floor((col("lo") + num.cast("double") / den.cast("double")) * 1e6) / 1e6
    }
    val hist = cum.groupBy(col("source"))
      .agg(max(col("n")).as("hn"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        rankCell(expr("(n - 1) div 2")).as("c50f"),
        rankCell(expr("(n - 1 + 1) div 2")).as("c50c"),
        rankCell(expr("((n - 1) * 19) div 20")).as("c95f"),
        rankCell(expr("((n - 1) * 19 + 19) div 20")).as("c95c"))
      .select(col("source"),
        estExpr(1, 2, "c50f", "c50c").as("p50_hist"),
        estExpr(19, 20, "c95f", "c95c").as("p95_hist"))
    val exact = sourceQuantiles(docs,
      Seq(0.5 -> "p50_exact", 0.95 -> "p95_exact"))
    exact.join(hist, Seq("source"))
      .select(col("source"), col("n_docs"),
        col("p50_exact"), col("p50_hist"),
        (floor(abs(col("p50_exact") - col("p50_hist")) * 1e6) / 1e6)
          .as("p50_err"),
        col("p95_exact"), col("p95_hist"),
        (floor(abs(col("p95_exact") - col("p95_hist")) * 1e6) / 1e6)
          .as("p95_err"))
      .orderBy(col("source"))
  }

  /** q181's fuzzy-decontamination pipeline, factored so q188's
    * remedy-cost report can consume the same flagged set: MinHash-LSH
    * band candidates oriented across the held split + the exact
    * 3-gram-Jaccard ≥ 0.5 confirm on 120-char prefixes, best held
    * witness per flagged train doc. See q181's registration for the
    * full scale notes.
    */
  private def fuzzyContamination(s: SparkSession, d: String): DataFrame = {
    def held(c: Column) = substring(md5(c.cast("string")), 1, 1) === "0"
    val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
      .select(col("a_id"), col("b_id"))
      .filter(held(col("a_id")) =!= held(col("b_id")))
      .select(
        when(held(col("a_id")), col("b_id")).otherwise(col("a_id")).as("doc_id"),
        when(held(col("a_id")), col("a_id")).otherwise(col("b_id")).as("held_id"))
    val pre = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 120).as("pre"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(round(col("jac"), 6).desc, col("held_id").asc)
    cand
      .join(pre.select(col("doc_id"), col("pre").as("t_pre")), Seq("doc_id"))
      .join(pre.select(col("doc_id").as("held_id"), col("pre").as("h_pre")),
        Seq("held_id"))
      .withColumn("jac", Dedup.ngramJaccard(col("t_pre"), col("h_pre"), 3))
      .filter(col("jac") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("held_id"), round(col("jac"), 6).as("jac"))
  }

  val queries: Map[String, Q] = Map(
    // ---- exact dedup via content-hash group-by ----
    "q21_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("norm_key", lower(substring(col("text"), 1, 40)))
        .transform(df => Dedup.exactDedup(df, "norm_key", "doc_id"))
        .orderBy(col("content_hash"))
    }),

    // ---- MinHash + LSH banding near-dup candidates (r=2, b=8) ----
    "q22_minhash_candidates" -> ((s, d) => {
      val sig = corpusSignatures(s, d)
      Dedup.minhashCandidates(sig)
        .filter(col("n_bands") >= 2)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- SimHash fingerprints (single-pass fused expression; the
    //      composed digest-array form stays as Dedup.simhash for
    //      token-level callers and is parity-tested against this) ----
    "q23_simhash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // ---- n-gram Jaccard near-dup: MinHash candidates → exact re-score ----
    // The bucket-join variant evaluated jaccard on every same-length
    // pair (quadratic per bucket — 2.3M pairs at sf0.1, minutes in one
    // task). The scalable pipeline scores ONLY LSH candidate pairs.
    "q24_ngram_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
        .select(col("a_id"), col("b_id"))
      // the rescoring join carries the 120-char prefixes, not gram
      // arrays; jaccard is a single-pass expression per candidate pair
      val pre = docs.select(col("doc_id"), substring(col("text"), 1, 120).as("pre"))
      cand
        .join(pre.select(col("doc_id").as("a_id"), col("pre").as("a_pre")), Seq("a_id"))
        .join(pre.select(col("doc_id").as("b_id"), col("pre").as("b_pre")), Seq("b_id"))
        .withColumn("jac", Dedup.ngramJaccard(col("a_pre"), col("b_pre"), 3))
        .filter(col("jac") >= 0.5)
        .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- SimHash near-dup candidates via multi-index (pigeonhole
    //      banding) over the 64-BIT fingerprint: two fingerprints
    //      whose differing bits are confined to one 16-bit band agree
    //      on >= 3 of 4 bands, so the capped (band, chunk) bucket
    //      join — minhashCandidates reused verbatim, cap included —
    //      finds every hamming<=1 pair (and any single-band
    //      divergence) without an all-pairs pass; exact
    //      bit_count(xor) rescoring keeps hamming <= 3. 65536 buckets
    //      per band keeps bucket sizes small at corpus scale (the
    //      16-bit variant's 16 buckets/band went quadratic at sf0.1) ----
    "q85_simhash_neardup" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      val sig = sh.select(col("doc_id"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band", "minhash")))
      Dedup.minhashCandidates(sig)
        .filter(col("n_bands") >= 3)
        .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
        .withColumn("hamming",
          bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- semantic dedup: IVF-cell-bounded pairwise cosine, drop list
    //      with best-witness evidence (cluster-then-dedup-within-
    //      cluster — pair work never corpus-quadratic). Full DuckDB
    //      oracle: centroids inlined, cell cap mirrored ----
    "q86_semantic_dedup" -> ((s, d) => {
      Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id",
          "embedding", tau = 0.4, nCells = 16)
        .orderBy(col("dropped_id"))
    }),

    // ---- incremental dedup: a NEW batch (md5-split 20% "delta")
    //      deduped against the EXISTING corpus ("base") — the shape
    //      production ingest runs daily. One banded-signature pass over
    //      base+delta together (same capped bucket machinery as q22),
    //      then keep only cross-side pairs: delta docs with a base
    //      near-dup are the ones ingest drops. Signatures come off the
    //      persisted corpus table (corpusSignatures); q95 splits the
    //      persistence base/delta the way a daily ingest actually would ----
    "q91_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("side",
          when(substring(md5(col("doc_id").cast("string")), 1, 1)
            .isin("0", "1", "2"), lit("delta")).otherwise(lit("base")))
      val sig = corpusSignatures(s, d)
      val sides = docs.select(col("doc_id"), col("side"))
      Dedup.minhashCandidates(sig)
        .filter(col("n_bands") >= 2)
        .join(sides.select(col("doc_id").as("a_id"), col("side").as("a_side")), Seq("a_id"))
        .join(sides.select(col("doc_id").as("b_id"), col("side").as("b_side")), Seq("b_id"))
        .filter(col("a_side") =!= col("b_side"))
        .select(
          when(col("a_side") === "delta", col("a_id")).otherwise(col("b_id")).as("delta_id"),
          when(col("a_side") === "delta", col("b_id")).otherwise(col("a_id")).as("base_id"),
          col("n_bands"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- incremental dedup against PERSISTED signatures — q91's
    //      100 TB promise made real. The base corpus' banded signatures
    //      are materialized once as a parquet table ("the last run's
    //      output", CoreQueries.sharedInputDir session-store) and the
    //      incremental pass READS THEM BACK: the minhash pipeline runs
    //      only over the new batch, the base side is a scan of
    //      (doc_id, band, minhash) ~1% the corpus width. Candidate join
    //      shape is identical to q91 (same capped bucket machinery);
    //      sides are derived per-row from the same md5 split that
    //      framed the batch — in production the delta id set is the
    //      batch being ingested, so no corpus-side join is needed
    //      either way. Oracle: same SQL as q91 — the persisted path
    //      must be value-identical to the recompute path ----
    "q95_incremental_persisted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseSig = v1SigArtifact(s, d)
      val deltaSig = Dedup.bandedSignatures(docs.filter(isDeltaDoc(col("doc_id"))),
        "text", "doc_id", k = 8)
      Dedup.minhashCandidates(baseSig.unionByName(deltaSig))
        .filter(col("n_bands") >= 2)
        .withColumn("a_delta", isDeltaDoc(col("a_id")))
        .withColumn("b_delta", isDeltaDoc(col("b_id")))
        .filter(col("a_delta") =!= col("b_delta"))
        .select(
          when(col("a_delta"), col("a_id")).otherwise(col("b_id")).as("delta_id"),
          when(col("a_delta"), col("b_id")).otherwise(col("a_id")).as("base_id"),
          col("n_bands"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- C4-style cross-document span dedup WITH reassembly: cut each
    //      doc into tumbling 8-token spans, keep only the globally
    //      first occurrence of every span (min (doc_id, span_idx)),
    //      and rebuild the cleaned text from the survivors — the
    //      operator that actually EDITS the corpus, where q60/q62 only
    //      measure repetition. Spans compare case-folded (the rebuilt
    //      text is the folded form). Two keyed shuffles: the dedup
    //      window on a 16-hex md5 span prefix (bounded key width
    //      however long the span text), then the rebuild on doc_id —
    //      no all-pairs path anywhere ----
    "q92_span_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
        .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
      val spans = toks.filter(col("n_spans") >= 1)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
            i => array_join(slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
            .as(Seq("span_idx", "span")))
      val kept = spans
        .withColumn("rn", row_number().over(
          Window.partitionBy(substring(md5(col("span")), 1, 16))
            .orderBy(col("doc_id"), col("span_idx"))))
        .filter(col("rn") === 1)
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("span_idx"), col("span")))),
            x => x.getField("span"))).as("clean_text"))
      toks.select(col("doc_id"), col("n_spans"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- BPE merge step: adjacent character-pair frequencies over
    //      the corpus vocabulary, weighted by word frequency — the
    //      inner loop of tokenizer training. The pair explosion runs
    //      on the DISTINCT word table (vocab-sized), not the corpus:
    //      the word-freq group-by (map-side combined) is the only
    //      corpus-wide shuffle, which is exactly how a 100 TB BPE
    //      trainer keeps each merge iteration cheap. Top-20 via the
    //      same TakeOrderedAndProject + bounded-window shape as q63 ----
    "q93_bpe_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(s, d)
        .select(explode(TA.wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .filter(length(col("word")) >= 2)
      val pairs = words.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      pairs.groupBy(col("pair")).agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("pair")).limit(20)
        .withColumn("merge_rank",
          row_number().over(Window.partitionBy(substring(col("pair"), 0, 0))
            .orderBy(col("pair_freq").desc, col("pair"))).cast("long"))
        .select(col("merge_rank"), col("pair"), col("pair_freq"))
        .orderBy(col("merge_rank"))
    }),

    // ---- iterated BPE training: 5 driver-bounded merge rounds
    //      composing q93's single step into the trainer loop. Words are
    //      \u0001\u0001-delimited symbol strings, so each round's merge
    //      application is ONE codegen'd replace() per word (greedy
    //      left-to-right, exactly BPE's merge rule) and the pair stats
    //      are an explode over the split symbols. The corpus-wide
    //      shuffle happens ONCE (the word-freq group-by, persisted);
    //      each round then shuffles only the vocab-bounded pair table
    //      and takes its argmax via TakeOrdered — per-merge cost is
    //      corpus-independent, which is what makes a 100 TB BPE trainer
    //      feasible. The per-round limit(1).collect() is a bounded
    //      driver action (one row), same discipline as q45's per-round
    //      convergence count ----
    "q96_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeTrainedMerges(s, d)
        .toDF("merge_iter", "left_sym", "right_sym", "pair_freq")
        .orderBy(col("merge_iter"))
    }),

    // ---- BPE APPLY: tokenize the corpus with q96's TRAINED merge
    //      table — the missing third of the train→apply→pack loop a
    //      tokenizer pipeline actually runs (q93 ranks pairs, q96
    //      learns the merges, this encodes with them). The merge table
    //      is corpus-trained but VOCAB-SIZED, so it collects to the
    //      driver and the whole encode is a chain of five codegen'd
    //      literal replace()s inside one transform() over each doc's
    //      token array — pure scan-stage arithmetic, zero shuffles
    //      before the output sort, per-doc cost independent of corpus
    //      size (at 100 TB the merge table is still a broadcast-sized
    //      constant; a 50k-merge production vocab swaps the replace
    //      chain for a fused expression over the same plan shape).
    //      Merges apply in training order with the trainer's own
    //      greedy left-to-right single-pass replace semantics, so
    //      train and apply cannot disagree on the merge rule. Output:
    //      per-doc whitespace-word count, BPE token count, and
    //      fertility (tokens/word — the number a tokenizer eval
    //      actually reports) ----
    "q122_bpe_encode" -> ((s, d) => {
      bpeEncoded(s, d)
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          when(col("n_words") > 0,
            round(col("n_tokens").cast("double") / col("n_words"), 6))
            .as("fertility"))
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing on REAL tokenizer counts — q61's greedy
    //      per-source pack re-pointed from whitespace tokens to q122's
    //      BPE token counts, completing the train→apply→PACK loop with
    //      the counts a training run actually bills by. Same plan
    //      shape as q61 (one scan + the per-source pack window + the
    //      (source, seq_id) aggregate); the encode chain adds zero
    //      shuffles. q61 stays registered as the tokenizer-free
    //      baseline — the pair shows how the 512-token sequence budget
    //      shifts when whitespace counts (which UNDERCOUNT subword
    //      splits) are replaced by the trained vocabulary's counts ----
    "q125_bpe_pack" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      bpeEncoded(s, d)
        .withColumn("prev_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_id", floor(col("prev_tokens") / lit(512)).cast("long"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .orderBy(col("source"), col("seq_id"))
    }),

    // ---- BPE merge-budget sweep — the tokenizer family's operating
    //      knob, completing the knob-calibration set (LSH: q102+q114;
    //      semantic tau: q118; IVF nProbe: q121; quality threshold:
    //      q116): corpus token totals under each PROGRESSIVE merge
    //      prefix k = 0..5 of q96's trained table, i.e. what each
    //      additional merge buys in compression. All six encodes run
    //      in ONE scan pass — each word's symbol rep threads through
    //      the literal replace chain and every intermediate length is
    //      captured — then six map-side-combinable sums; one output
    //      row per budget. tokens_per_word is the fertility a
    //      vocab-size decision reads ----
    "q126_bpe_merge_sweep" -> ((s, d) => {
      val S = "\u0001"; val SS = S + S
      val merges = bpeTrainedMerges(s, d)
      def lenOf(rep: Column): Column =
        // rep is always "SS t1 SS t2 ... SS" (tokens never contain S),
        // so non-empty SS-split segments = (#S chars)/2 - 1 — length
        // arithmetic instead of split + filter: no per-step array, no
        // interpreted lambda, ×(merges+1) per word (round 18; pinned ≡
        // the split form in Wave30Spec, values oracle-checked by q126)
        ((length(rep) - length(replace(rep, lit(S), lit("")))) / 2 - 1)
          .cast("long")
      Tables.documents(s, d)
        .select(TA.wsTokens(lower(col("text"))).as("toks"))
        .select(explode(col("toks")).as("w"))
        .select({
          val rep0 = concat(lit(SS), regexp_replace(col("w"), "(.)", "$1" + SS))
          val reps = merges.scanLeft(rep0) { case (r, (_, a, b, _)) =>
            replace(r, lit(S + a + SS + b + S), lit(S + a + b + S)) }
          struct(reps.zipWithIndex.map { case (r, k) =>
            lenOf(r).as(s"l$k") }: _*).as("ls")
        })
        .agg(count(lit(1)).as("n_words"),
          (0 to merges.length).map(k => sum(col(s"ls.l$k")).as(s"t$k")): _*)
        .select(explode(array((0 to merges.length).map(k =>
          struct(lit(k.toLong).as("n_merges"), col(s"t$k").as("corpus_tokens"),
            round(col(s"t$k").cast("double") / col("n_words"), 6)
              .as("tokens_per_word"))): _*)).as("r"))
        .select(col("r.n_merges"), col("r.corpus_tokens"),
          col("r.tokens_per_word"))
        .orderBy(col("n_merges"))
    }),

    // ---- STREAMING SimHash near-dup ingest — q115's incremental loop
    //      for the second detector family: delta docs arrive as a file
    //      stream (4 micro-batches), each batch's SimHash64 band
    //      signatures equi-join the PERSISTED base signature table on
    //      (band, nib) via the shared streamSigCandidates core, exact
    //      hamming <= 3 rescore on the fingerprints carried through
    //      the pair aggregation — never a base×base pair, never a
    //      corpus rescan. Appended through the same idempotent
    //      batch_id-partitioned K2 sink as q115; gated on the q85
    //      family's oracle restricted to cross-side pairs, so the
    //      streaming path must be value-identical to the batch
    //      detector on the delta×base slice. (Same documented cap
    //      divergence as q115: per base+batch bucket counting vs
    //      whole-corpus in q85 — identical below the cap.) ----
    "q123_stream_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // persisted base SimHash signature table — at 100 TB this is the
      // last corpus build's fingerprint index
      val baseSig = v1SimhashSigArtifact(s, d)
      val baseCnt = sigCountArtifact(s,
        s"graft_q123cnt_${CoreQueries.dirToken(d)}", baseSig)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q123_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q123_ssimhash_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            graft.streaming.Streaming.writeBatch(
              streamBatchSimhash(batch.toDF(), baseSig,
                baseCounts = Some(baseCnt)), id, out,
              append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("delta_id"), col("base_id"), col("hamming"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- CCNet-style boilerplate removal: drop any tumbling 8-token
    //      span that appears in MORE THAN ONE distinct doc of the same
    //      source (nav bars, footers, license blurbs repeat within a
    //      crawl domain — CCNet's "paragraph occurs more than once"
    //      rule), then reassemble. Complements q92: q92 keeps the
    //      globally FIRST occurrence of a duplicated span; this drops
    //      ALL occurrences of a frequent span — the CCNet/ refinedweb
    //      shape for template text. Span stats and the stats join
    //      share the (source, span-key) exchange; the rebuild is the
    //      q92 groupBy — every shuffle keyed, nothing corpus-quadratic ----
    "q98_boilerplate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TA.wsTokens(lower(col("text"))).as("toks"))
        .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
      val spans = toks.filter(col("n_spans") >= 1)
        .select(col("doc_id"), col("source"),
          posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
            i => array_join(slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
            .as(Seq("span_idx", "span")))
        .withColumn("key", substring(md5(col("span")), 1, 16))
      val stats = spans.groupBy(col("source"), col("key"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val rebuilt = spans.join(stats, Seq("source", "key"))
        .filter(col("n_docs") < 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("span_idx"), col("span")))),
            x => x.getField("span"))).as("clean_text"))
      toks.select(col("doc_id"), col("n_spans"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- CCNet perplexity bucketing: head/middle/tail terciles of the
    //      corpus-trained bigram-LM score (q87's model), per language.
    //      Deliberately NOT ntile-over-the-corpus: the cut points come
    //      from the cumulative distribution of the (lang, score)
    //      GROUPED table — the per-lang window runs over distinct
    //      scores, not rows, so the sort that would single-thread a
    //      100 TB corpus under partitionBy(lang) never sees corpus
    //      cardinality (the distributed-quantile-by-value-counts
    //      shape). Equal scores land in the same bucket by
    //      construction — a property row-ntile can't give a filter ----
    "q99_ccnet_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(TA.bigramLmScore(docs, "text", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lm_score"))
      val wLang = Window.partitionBy(col("lang"))
      val cuts = scored.groupBy(col("lang"), col("lm_score"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum_before", coalesce(sum(col("cnt")).over(
          wLang.orderBy(col("lm_score").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_lang", sum(col("cnt")).over(wLang))
      scored.join(cuts.select(col("lang"), col("lm_score"),
          col("cum_before"), col("n_lang")), Seq("lang", "lm_score"))
        .select(col("doc_id"), col("lang"), col("lm_score"),
          when(col("cum_before") * 3 < col("n_lang"), "head")
            .when(col("cum_before") * 3 < col("n_lang") * 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-style composite quality rules: the fixed per-doc
    //      threshold battery (word count, mean word length, stopword
    //      presence, duplicate-word fraction) a crawl pipeline applies
    //      before any model-based scoring. Rules as 0/1 longs plus the
    //      conjunction; thresholds adapted to this corpus' word-soup
    //      profile. Pure per-row expressions — the whole battery
    //      pipelines into the scan, zero shuffles before the sort ----
    "q100_gopher_rules" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          round(TA.meanWordLenFromTokens(col("text"), col("toks")), 6)
            .as("mean_word_len"),
          round(TA.stopwordRatioFromTokens(col("ltoks")), 6).as("stopword_ratio"),
          round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
            / size(col("ltoks")).cast("double"), 6).as("dup_frac"))
        .withColumn("r_nwords",
          (col("n_words") >= 50 && col("n_words") <= 100000).cast("long"))
        .withColumn("r_wordlen",
          (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).cast("long"))
        .withColumn("r_stop", (col("stopword_ratio") >= 0.02).cast("long"))
        .withColumn("r_dup", (col("dup_frac") <= 0.9).cast("long"))
        .withColumn("keep", (col("r_nwords") === 1 && col("r_wordlen") === 1 &&
          col("r_stop") === 1 && col("r_dup") === 1).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-doc contamination FRACTION: q59/q84 answer "does this
    //      doc share any 8-gram with the held-out set"; eval-overlap
    //      reporting needs HOW MUCH — the fraction of each train doc's
    //      distinct grams that appear in the held-out set. Same
    //      broadcast-held-set shape as q59 (16-byte keys, bounded by
    //      construction), one keyed per-doc aggregate; the left join
    //      keeps uncontaminated docs in the denominator ----
    "q101_contamination_frac" -> ((s, d) => {
      val grams = splitGrams(s, d)
      val held = grams.filter(col("hb") === "0").select(col("gh")).distinct()
        .withColumn("hit", lit(true))
      grams.filter(col("hb") =!= "0")
        .join(broadcast(held), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_contaminated"))
        .withColumn("contam_frac",
          round(col("n_contaminated").cast("double")
            / col("n_grams").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // ---- LSH candidate PRECISION eval: the dedup-side twin of q76's
    //      recall eval. Per band-agreement count, what fraction of the
    //      capped MinHash candidate pairs survive exact 3-gram Jaccard
    //      >= 0.5 rescoring — the measurement that says whether the
    //      banding parameters over- or under-generate before a 100 TB
    //      dedup run commits to them. Reuses q22's capped candidate
    //      machinery and q24's fused rescore; the final aggregate is
    //      band-count-bounded (<= 4 rows) ----
    "q102_lsh_precision" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
      val pre = docs.select(col("doc_id"), substring(col("text"), 1, 120).as("pre"))
      cand
        .join(pre.select(col("doc_id").as("a_id"), col("pre").as("a_pre")), Seq("a_id"))
        .join(pre.select(col("doc_id").as("b_id"), col("pre").as("b_pre")), Seq("b_id"))
        .withColumn("hit",
          (Dedup.ngramJaccard(col("a_pre"), col("b_pre"), 3) >= 0.5).cast("long"))
        .groupBy(col("n_bands"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("hit")).as("n_verified"))
        .withColumn("lsh_precision",
          round(col("n_verified").cast("double") / col("n_pairs").cast("double"), 6))
        .orderBy(col("n_bands"))
    }),

    // ---- random sign projection (Johnson–Lindenstrauss): 64-dim
    //      embeddings down to 8 dims with a constant ±1 matrix — the
    //      cheap dimensionality reduction a 100 TB pipeline runs before
    //      clustering or coarse ANN when even fp32x64 is too wide.
    //      Matrix rows are constant-folded literals, work is pure
    //      per-row scan-stage arithmetic, zero shuffles before the
    //      sort; components in micro-units so the CSV rendering is
    //      integer-exact cross-engine ----
    "q103_random_projection" -> ((s, d) => {
      Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"),
          array_join(transform(
            Similarity.signProjectMicro(col("embedding"), 8, 64),
            _.cast("string")), ",").as("proj_micro"))
        .orderBy(col("vec_id"))
    }),

    // ---- hard-negative mining: per query vector, the top-3 nearest
    //      corpus vectors with a DIFFERENT label — the near-miss pairs
    //      a contrastive trainer needs. IVF path (bounded centroid
    //      broadcast + keyed cell join); the label rides through cell
    //      assignment, and the mismatch filter applies before ranking ----
    "q104_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesIvf(
          emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", "label", k = 3)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- label-balanced resampling: integer upsampling epochs per
    //      label, ceil(n_max / n_label), so every class contributes
    //      roughly equally to a training epoch (the classification twin
    //      of q77's domain upsampling). The per-label count table is
    //      label-cardinality-bounded and broadcast; the explode is
    //      scan-pipelined — zero corpus-wide shuffles before the sort ----
    "q105_label_balance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val counts = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val epochs = broadcast(counts
        .crossJoin(counts.agg(max(col("n")).as("n_max")))
        .select(col("label"),
          ceil(col("n_max").cast("double") / col("n").cast("double")).as("n_epochs")))
      emb.join(epochs, Seq("label"))
        .select(col("vec_id"), col("label"),
          explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
        .orderBy(col("vec_id"), col("epoch"))
    }),

    // ---- content-defined chunking: variable-length chunks cut where
    //      the trailing-window polynomial hash is 0 mod 64 (rsync/LBFS
    //      rule) — boundaries survive insertions, unlike q82's fixed
    //      windows, so downstream chunk-level dedup keys stay stable
    //      when a doc is edited. Pure per-row work (fused expression +
    //      posexplode) that pipelines into the scan: no shuffle at all
    //      before the output sort ----
    "q90_cdc_chunks" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TA.cdcChunks(col("text"), w = 8, mask = 64))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- canonical semantic clusters: connected components over the
    //      q86 drop pairs (what the semanticDedup docstring points
    //      consumers at for a guaranteed survivor per near-dup group —
    //      min id per component, same discipline as q45) ----
    "q89_semantic_clusters" -> ((s, d) => {
      val pairs = Similarity.semanticDedup(Tables.embeddings(s, d),
          "vec_id", "embedding", tau = 0.4, nCells = 16)
        .select(col("kept_id").as("a_id"), col("dropped_id").as("b_id"))
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .select(col("id").as("vec_id"), col("comp").as("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- char-bigram LM quality score: corpus-trained add-one-
    //      smoothed model, per-doc mean log-likelihood (the perplexity
    //      filter of web curation). Model is charset^2-bounded ->
    //      broadcast; only corpus shuffles are the model groupBy and
    //      the per-doc mean ----
    "q87_bigram_lm" -> ((s, d) => {
      TA.bigramLmScore(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- per-doc OOV rate against the corpus top-k vocabulary
    //      (corpusVocab — q63's vocab rule at k=20, shared definition):
    //      tokenizer-coverage analysis before a vocab is frozen. The
    //      vocab is k-BOUNDED (TakeOrderedAndProject) so its broadcast
    //      never scales with the corpus; scoring is one scan whose only
    //      shuffle is the per-doc count, map-side combined ----
    "q88_oov_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TA.wsTokens(lower(col("text")))).as("term"))
      val vocab = corpusVocab(s, d, k = 20)
        .select(col("term"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // ---- brute-force cosine top-k (exact ANN baseline) ----
    "q25_knn_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- heuristic language ID ----
    "q26_langid" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"), TA.langIdFromTokens(col("toks")).as("lang_guess"),
          TA.langScore(col("toks"), "en").as("en_score"))
        .orderBy(col("doc_id"))
    }),

    // ---- quality scoring (tokens projected once) ----
    "q27_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          round(TA.meanWordLenFromTokens(col("text"), col("toks")), 6)
            .as("mean_word_len"),
          round(TA.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TA.stopwordRatioFromTokens(col("ltoks")), 6).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ---- token counting (tokens projected once) ----
    "q28_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TA.wsTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_ws_tokens"),
          greatest(ceil(length(col("text")) / 4).cast("long"),
            size(col("toks")).cast("long")).as("subword_est"))
        .orderBy(col("doc_id"))
    }),

    // ---- document fingerprinting (content md5 + rolling hash) ----
    "q29_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TA.contentFingerprint(col("text")).as("fingerprint"),
          TA.rollingHash(col("text")).as("rolling_hash"))
        .orderBy(col("doc_id"))
    }),

    // ---- gap-based sessionization ----
    "q30_sessionize" -> ((s, d) => {
      Sessions.sessionStats(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- multimodal binary plumbing (decode stubbed, plumbing real) ----
    "q31_multimodal" -> ((s, d) => {
      Multimodal.decodePipeline(Tables.documents(s, d), "text", "doc_id")
        .drop("payload") // parquet-compare on metadata; payload exercised in tests
        // list-typed columns crash the driver's pandas sort_values
        // (unhashable ndarray) — compare the offsets as a CSV string
        .withColumn("frame_offsets",
          array_join(transform(col("frame_offsets"), _.cast("string")), ","))
        .orderBy(col("doc_id"))
    }),

    // ---- HLL sketch aggregation (no oracle: HLL impls differ across
    //      engines by design — driver records the rows-only check) ----
    "q34_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- embedding-cosine near-dup via LSH buckets; full DuckDB
    //      oracle with the md5-derived hyperplane constants inlined
    //      into the SQL (same discipline as q44's centroids) ----
    "q36_embed_neardup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb, "vec_id", "embedding", k = 3, nPlanes = 8)
        .filter(col("sim") >= 0.2)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- IVF-flat ANN: the alternative scale path to LSH (q36) —
    //      deterministic md5-derived coarse centroids, argmax-dot cell
    //      assignment, nProbe-cell probe, exact cosine re-rank; full
    //      DuckDB oracle (centroid constants inlined into the SQL) ----
    "q44_ivf_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 50), emb,
          "vec_id", "embedding", k = 3, nCells = 16, nProbe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- dedup clusters: connected components over MinHash candidate
    //      pairs (hash-min label propagation; cluster_id = min doc_id) ----
    "q45_dedup_clusters" -> ((s, d) => {
      // symmetrization union consumes the pipeline twice; level is the
      // deploy-time switch (util.Persist — DISK_ONLY/NONE at scale).
      // Candidates come off the persisted corpus signature TABLE, so
      // the CC loop's input is a parquet scan, not a shingle pass.
      val cand = graft.util.Persist(Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2)
        .select(col("a_id"), col("b_id")))
      Dedup.connectedComponents(cand, "a_id", "b_id")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic md5-bucket train/val/test split (80/10/10):
    //      content-stable assignment, reproducible on any engine ----
    "q46_train_split" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long").as("hv"))
        .withColumn("bucket", pmod(col("hv"), lit(100L)))
        .withColumn("split",
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- PII redaction: regex scrub of emails/phones + match counts
    //      (PII synthesized deterministically — test corpus has none) ----
    "q47_pii_redact" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+[0-9][0-9 ]{6,}[0-9]"
      val synth = concat(substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +33 6 "),
        lpad(pmod(col("doc_id") * 7919, lit(100000000L)).cast("string"), 8, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), synth.as("raw"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"),
          size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    }),

    // ---- TF-IDF keyword extraction (top-3 terms per doc) ----
    "q48_tfidf" -> ((s, d) => {
      TA.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- deterministic stratified (per-class balanced) subsample:
    //      md5-ordered row_number caps each language at 20 docs ----
    "q49_stratified_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .orderBy(col("lang"), col("rn"))
    }),

    // ---- domain mixing: deterministic per-source downsampling quotas
    //      (content-hash Bernoulli) — the data-mixing step of a
    //      training pipeline (downsample over-represented domains,
    //      keep the rest at 100%). The quota table is broadcast; the
    //      filter pipelines into the scan, so at 100 TB this is one
    //      pass with no shuffle at all ----
    "q73_domain_mix" -> ((s, d) => {
      import s.implicits._
      val quotas = broadcast(Seq(("src0", 25L), ("src1", 50L), ("src2", 75L))
        .toDF("source", "pct"))
      Tables.documents(s, d)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"), lit(100L)))
        .join(quotas, Seq("source"), "left")
        .filter(col("bucket") < coalesce(col("pct"), lit(100L)))
        .select(col("doc_id"), col("source"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- IVF training: one Lloyd (k-means) iteration over the coarse
    //      centroids — assignment is the bounded broadcast NLJ from
    //      q44; the mean update shuffles keyed by (cell, pos) with
    //      map-side partial sums. Full DuckDB oracle (centroids
    //      inlined, long-form output) ----
    "q74_kmeans_iter" -> ((s, d) => {
      Similarity.kmeansIteration(Tables.embeddings(s, d), "vec_id",
          "embedding", nCells = 16)
        .orderBy(col("cell"), col("pos"))
    }),

    // ---- domain upsampling: integer epoch counts per source (the
    //      complement of q73's downsampling — over-weighted domains
    //      are repeated N times, everything else passes once). The
    //      epoch table is broadcast and the explode is scan-pipelined:
    //      zero shuffles before the output sort ----
    "q77_domain_epochs" -> ((s, d) => {
      import s.implicits._
      val epochs = broadcast(Seq(("src0", 3), ("src1", 2))
        .toDF("source", "n_epochs"))
      Tables.documents(s, d)
        .join(epochs, Seq("source"), "left")
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), coalesce(col("n_epochs").cast("long"), lit(1L))))
            .as("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // ---- int8 embedding quantization: symmetric per-vector scale,
    //      codes = round(x*127/scale). 4x storage shrink before ANN;
    //      per-row builtins only — no shuffle, scan-speed at 100 TB ----
    "q81_embed_quantize" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          Similarity.int8Scale(col("embedding")).as("scale0"))
        .select(col("vec_id"),
          round(col("scale0"), 6).as("scale"),
          // list-typed columns crash the driver's pandas sort_values
          // (unhashable ndarray) — compare the codes as a CSV string
          // (q31 discipline); consumers wanting the array use
          // Similarity.quantizeInt8 directly (q94 does)
          array_join(transform(
            Similarity.quantizeInt8(col("embedding"), col("scale0")),
            _.cast("string")), ",").as("qvec"))
        .orderBy(col("vec_id"))
    }),

    // ---- quantized ANN: the consumer of q81's int8 codes. IVF probe
    //      where candidate scoring is an exact INTEGER dot product over
    //      the codes (code-space cosine — per-vector scales cancel),
    //      plus the reconstructed fp dot via the stored scales. Same
    //      bounded-broadcast centroid NLJ + keyed cell equi-join as
    //      q44; at 100 TB the index holds only codes+scales (4x
    //      smaller shards) and this is the query path ----
    "q94_quantized_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      Similarity.quantizedIvfTopK(q, emb, "vec_id", "embedding", k = 3)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- quantized-ANN quality gate: recall@3 of the int8 IVF path
    //      (q94) against the exact fp32 brute-force ranking — the
    //      measurement that says how much the 4x storage shrink costs
    //      in retrieval quality (q76 discipline, quantized path) ----
    "q97_quantized_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
        .select(col("q_id"), col("n_id"))
      val approx = Similarity.quantizedIvfTopK(q, emb, "vec_id", "embedding", k = 3)
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hits"),
          round(count(col("a_n")) / lit(3.0), 6).as("recall_at_3"))
        .orderBy(col("q_id"))
    }),

    // ---- sliding-window document chunking (size 500, stride 400 →
    //      100-char overlap): the pre-tokenization split a training
    //      pipeline feeds to the tokenizer. explode(sequence) keeps it
    //      a generator inside the scan stage — no shuffle ----
    "q82_chunk_docs" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            greatest(length(col("text")).cast("long") - 1, lit(0L)),
            lit(400L))).as("chunk_start"))
        .select(col("doc_id"), col("chunk_start"),
          col("text").substr(col("chunk_start").cast("int") + 1, lit(500)).as("chunk"))
        .withColumn("n_chars", length(col("chunk")).cast("long"))
        .orderBy(col("doc_id"), col("chunk_start"))
    }),

    // ---- ANN quality evaluation: recall@3 of the LSH bucket path
    //      (q36) against the exact brute-force ranking (q25) — the
    //      measurement a 100 TB similarity pipeline runs on a sampled
    //      query set before trusting the approximate path. Exact and
    //      approximate sides share tie-breaking (round(sim,6) desc,
    //      id asc), so the comparison is deterministic ----
    "q76_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
        .select(col("q_id"), col("n_id"))
      val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 3, nPlanes = 8)
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hits"),
          round(count(col("a_n")) / lit(3.0), 6).as("recall_at_3"))
        .orderBy(col("q_id"))
    }),

    // ---- benchmark decontamination: flag train-split docs sharing any
    //      normalized word-8-gram with the held-out split (Lee et al.
    //      2022 / GPT-3 appendix style n-gram overlap). Join key is a
    //      64-bit-ish md5 prefix of the gram, not the gram text — at
    //      100 TB the shuffle carries 16-byte keys instead of ~60-byte
    //      strings. The held-out side is broadcast because real
    //      decontamination targets are benchmark test sets (10^5-10^6
    //      grams); if the held split ever scales with the corpus, drop
    //      the broadcast() hint and this degrades gracefully to a
    //      shuffled hash join on the same 16-byte key ----
    "q59_decontaminate" -> ((s, d) => {
      // single-pass codegen'd gram hashing (WordGramHashes): per-doc
      // distinct in gh-space == the oracle's DISTINCT (doc_id, gh).
      // No persist: the held/train split filters push to the scan, and
      // the two branches together cost one full pass
      val grams = splitGrams(s, d)
      val heldOut = grams.filter(col("hb") === "0").select(col("gh")).distinct()
      grams.filter(col("hb") =!= "0")
        .join(broadcast(heldOut), Seq("gh"))
        .groupBy(col("doc_id"))
        // per-doc grams are array_distinct'd and heldOut is distinct, so
        // plain count == count-distinct — but with map-side partial agg
        // and one shuffle on doc_id instead of the expand-on-(doc_id,gh)
        // exchange an exact distinct would add
        .agg(count(lit(1)).as("shared_grams"))
        .orderBy(col("doc_id"))
    }),

    // ---- decontamination at held-set scale: same semantics as q59,
    //      but the held set is summarized into a FIXED-SIZE Bloom
    //      sketch (bloom_filter_agg) broadcast to the scan, which
    //      drops ~all clean grams before the exact left-semi confirm
    //      join kills the sketch's false positives — results stay
    //      EXACT (same oracle shape as q59) while the broadcast no
    //      longer scales with the held split. This is the "degrade
    //      path" q59's docstring promises, implemented ----
    "q84_decontaminate_bloom" -> ((s, d) => {
      val grams = splitGrams(s, d)
      // consumed twice (sketch + confirm join): level is the deploy
      // -time util.Persist switch, as everywhere in the dedup family
      val heldOut = graft.util.Persist(
        grams.filter(col("hb") === "0").select(col("gh")).distinct())
      // might_contain requires a CONSTANT sketch (Spark's own runtime
      // filters inject it as a subquery result); one bounded driver
      // action fetches the single ~numBits/8-byte row and inlines it
      // as a binary literal shipped with the tasks
      val bf = heldOut
        .agg(graft.ext.Bloom.sketchAgg(col("gh"), 100000L, 800000L).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      grams.filter(col("hb") =!= "0")
        .filter(graft.ext.Bloom.mightContain(lit(bf), col("gh")))
        .join(heldOut, Seq("gh"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("shared_grams"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus-duplicated text fraction (RefinedWeb-style): share of
    //      each doc's distinct 8-grams that occur in ≥2 docs. The only
    //      corpus-wide shuffle is keyed by the 16-hex gram hash; the
    //      gram→doc-count join is co-partitioned on that key (reused
    //      exchange), so no second full shuffle. The dup-gram side is
    //      NOT broadcast on purpose — at 100 TB it scales with the
    //      corpus, unlike q59's bounded held-out set ----
    "q62_dup_text_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // single-pass codegen'd gram hashing; per-doc distinct in
      // gh-space == the oracle's DISTINCT (doc_id, gh)
      // Three consumers (dup-gram set, totals, dup counts) replay the
      // scan+gram stage without a persist. 100-TB POLICY: the exploded
      // gram frame is ~10x the corpus and will NOT fit a memory-backed
      // level — util.Persist makes the level a deploy-time switch
      // (DISK_ONLY for sequential shuffle-grade spill, NONE to eat the
      // recompute when cluster disk is the scarcer resource);
      // MEMORY_AND_DISK is the bench-scale default.
      val grams = graft.util.Persist(docs.select(col("doc_id"),
          explode(TA.wordGramHashes(col("text"), 8)).as("gh")))
      val dupG = grams.groupBy(col("gh"))
        .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") >= 2)
        .select(col("gh"))
      val tot = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val dup = grams.join(dupG, Seq("gh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_grams"))
      docs.select(col("doc_id"))
        .join(tot, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
        .withColumn("dup_frac",
          round(when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("n_dup_grams").cast("double") /
              col("n_grams").cast("double")), 6))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-style repetition filter: fraction of duplicate word
    //      2-/3-grams per document (Rae et al. 2021 §A1.1 repetition
    //      signals). Pure array expressions — no shuffle, pipelines into
    //      the scan ----
    "q60_repeated_ngrams" -> ((s, d) => {
      def dupFrac(g: org.apache.spark.sql.Column) =
        when(size(g) === 0, lit(0.0)).otherwise(
          (size(g) - size(array_distinct(g))).cast("double") /
            size(g).cast("double"))
      Tables.documents(s, d)
        .select(col("doc_id"), TA.normWords(col("text")).as("words"))
        .select(col("doc_id"),
          TA.wordNGrams(col("words"), 2).as("g2"),
          TA.wordNGrams(col("words"), 3).as("g3"))
        .select(col("doc_id"),
          size(col("g2")).cast("long").as("n_2grams"),
          round(dupFrac(col("g2")), 6).as("dup2_frac"),
          round(dupFrac(col("g3")), 6).as("dup3_frac"))
        .withColumn("is_repetitive", (col("dup2_frac") > 0.2).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing: assign docs to fixed-token-budget training
    //      sequences per source shard (running token total → budget
    //      bucket). One shuffle keyed by the shard; at 100 TB the shard
    //      key is (source × file split) so no global order is needed ----
    "q61_pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"))
        .withColumn("prev_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_id", floor(col("prev_tokens") / lit(512)).cast("long"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .orderBy(col("source"), col("seq_id"))
    }),

    // ---- the composed training-data curation pipeline — the capstone
    //      proving the ext operators CHAIN: quality filter (token
    //      floor) → near-dup removal (keep each MinHash/CC cluster's
    //      canonical doc) → held-out decontamination (q59 semantics)
    //      → sequence packing (q61 semantics) over the survivors.
    //      Per-stage shuffle shape is each component's own (documented
    //      on q22/q45/q59/q61); stages compose without any new
    //      corpus-wide shuffle beyond their union ----
    "q64_curation_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // quality + signatures + grams each rescan docs; see q62's
      // 100-TB POLICY note — util.Persist makes this persist (and
      // cand's below) a deploy-time switch (DISK_ONLY / NONE at corpus
      // scale); the gram explosion itself is never persisted here,
      // only consumed once
      val docs = graft.util.Persist(Tables.documents(s, d))
      val meta = docs.select(col("doc_id"), col("source"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
        TA.tokenCount(col("text")).as("n_tokens"))
      val cand = graft.util.Persist(Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2)
        .select(col("a_id"), col("b_id")))
      val nonCanonical = Dedup.connectedComponents(cand, "a_id", "b_id")
        .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      val grams = docs.select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
          explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
      val held = grams.filter(col("hb") === "0").select(col("gh")).distinct()
      val contaminated = grams.filter(col("hb") =!= "0")
        .join(broadcast(held), Seq("gh"))
        .select(col("doc_id")).distinct()
      val survivors = meta
        .filter(col("n_tokens") >= 25 && col("hb") =!= "0")
        .join(nonCanonical, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      survivors
        .withColumn("prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_id", floor(col("prev") / lit(512)).cast("long"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .orderBy(col("source"), col("seq_id"))
    }),

    // ---- vocabulary construction: top-1000 corpus terms by frequency
    //      with deterministic ids (freq desc, term asc). The top-k goes
    //      through TakeOrderedAndProject (per-partition heads merged on
    //      the driver-side single reducer), NOT a global sort — the
    //      window that assigns ids only ever sees the bounded k rows ----
    "q63_vocab" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val top = corpusVocab(s, d, k = 1000)
      // Single-partition window on the bounded 1000-row frame is the
      // intended plan, but an explicit partition spec keeps WindowExec
      // from WARNing "No Partition Defined" into the bench tail the
      // driver captures (VERDICT r4 item 5). The key must be constant-
      // VALUED yet non-foldable — a literal gets stripped by Spark's
      // EliminateWindowPartitions rule, which re-creates the empty
      // spec; substring(term, 0, 0) = "" for every row survives it.
      top.withColumn("vocab_id",
          row_number().over(Window.partitionBy(substring(col("term"), 0, 0))
            .orderBy(col("freq").desc, col("term")))
            .cast("long"))
        .select(col("vocab_id"), col("term"), col("freq"))
        .orderBy(col("vocab_id"))
    }),

    // ---- J2 similarity merge in production shape (SequenceRatio in a
    //      distributed join; no SQL oracle — Ratcliff-Obershelp is not
    //      expressible in DuckDB; semantics pinned by ConsolidateSpec +
    //      the reference-diff harness) ----
    "q35_merge_similarity" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val fixedScrape = lit("2026-08-01 06:00:00").cast("timestamp")
      def side(t: String, prefix: String) = ev.filter(col("event_type") === t).select(
        concat(lit(prefix), lit("-"), col("event_id")).as("event_id_provider"),
        concat(lit("A"), col("user_id").cast("string"), lit(" Show")).as("event_name"),
        col("ts").cast("timestamp_ntz").as("event_datetime_local"),
        floor(col("value")).cast("long").as("tickets_sold_total"),
        fixedScrape.as("scrape_ts_utc"),
        lit("run-fixed").as("ingestion_run_id"),
        col("event_id").as("ord"))
      graft.etl.Consolidate.mergeSimilarity(
          side("signup", "sg"), side("purchase", "dc"),
          col("ord"), col("ord"))
        .withColumn("event_datetime_local",
          date_format(col("event_datetime_local"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .orderBy(col("canonical_event_key"), col("event_datetime_local"))
    }),

    // ---- corpus snapshot diff: content-hash full-outer join between
    //      two deterministic snapshot views of the corpus (old drops
    //      id%7==0, new drops id%5==0 and edits id%11==0) — the
    //      versioning op a recurring-crawl pipeline runs per refresh to
    //      bill added/removed/changed docs. One keyed exchange per side
    //      on doc_id feeding a sort-merge full-outer join — both sides
    //      are corpus-scale, so the SMJ on the id IS the right plan at
    //      100 TB (nothing to broadcast, nothing driver-sized) ----
    "q107_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("old_hash"))
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("new_hash"))
      oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("old_hash").isNull, lit("added"))
            .when(col("new_hash").isNull, lit("removed"))
            .when(col("old_hash") =!= col("new_hash"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"),
          col("old_hash"), col("new_hash"))
        .orderBy(col("doc_id"))
    }),

    // ---- logistic quality classifier: the q27 feature vector scored
    //      by a fixed-weight logistic model (the fasttext-style learned
    //      quality gate of web curation, with the weights frozen as
    //      plan constants). Pure per-row scan-stage arithmetic — the
    //      model "inference" adds zero shuffles to the feature scan.
    //      keep compares the ROUNDED score so both engines decide the
    //      boundary identically ----
    "q108_quality_classifier" -> ((s, d) =>
      docQuality(s, d)
        .select(col("doc_id"), col("quality_score"))
        .withColumn("keep", (col("quality_score") >= 0.5).cast("int"))
        .orderBy(col("doc_id"))),

    // ---- quality-priority survivor per near-dup cluster: q45's
    //      MinHash connected components, but the survivor is the
    //      LONGEST member (n_chars desc, doc_id asc tiebreak) instead
    //      of min-id — the curation policy that keeps the fullest copy
    //      of a boilerplate family. Struct-max argmax keeps the
    //      per-cluster reduction map-side combinable (A4's pattern) ----
    "q109_cluster_survivor" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cand = graft.util.Persist(Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2)
        .select(col("a_id"), col("b_id")))
      Dedup.connectedComponents(cand, "a_id", "b_id")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
        .select(col("cluster_id"),
          (-col("best.neg_id")).as("survivor_id"),
          col("best.n_chars").as("survivor_chars"),
          col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // ---- source coverage: per-source doc/char share plus the
    //      head-90% membership flag (which sources a curator must
    //      audit to cover 90% of the corpus). The only corpus-wide
    //      work is the source group-by; the share window runs over the
    //      source-cardinality-bounded aggregate, so the single
    //      unpartitioned window is fine at any corpus size ----
    "q110_source_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val stats = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val w = Window.orderBy(col("n_docs").desc, col("source"))
      stats
        .withColumn("total", sum(col("n_docs")).over(
          Window.partitionBy(substring(col("source"), 0, 0))))
        .withColumn("cum", sum(col("n_docs")).over(w))
        .select(col("source"), col("n_docs"), col("n_chars"),
          round(col("n_docs").cast("double") / col("total"), 6).as("share"),
          round(col("cum").cast("double") / col("total"), 6).as("cum_share"),
          when(round((col("cum") - col("n_docs")).cast("double") / col("total"), 6)
            < 0.9, 1).otherwise(0).as("in_head90"))
        .orderBy(col("source"))
    }),

    // ---- per-doc n-gram novelty: fraction of a doc's distinct 8-char
    //      shingles whose first owner (min doc_id over the corpus) is
    //      this doc — the marginal-contribution metric dedup-aware
    //      curation ranks new batches by. Same CharShingles projection
    //      the MinHash path uses; two keyed shuffles (shingle for the
    //      first-owner window, doc_id for the aggregate), no joins, no
    //      broadcast, nothing driver-sized at any corpus scale ----
    "q111_ngram_novelty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("doc_id"), explode(Dedup.charShingles(col("text"), 8)).as("g"))
        .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          round(sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
            .cast("double") / count(lit(1)), 6).as("novel_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup-family equivalence eval (VERDICT r7 #6): the repo has
    //      four near-dup detector families; this is the meta-eval that
    //      says which ones AGREE — pairwise Jaccard of their per-doc
    //      DROP SETS, the number a curation user reads before trusting
    //      one family's verdict at a given threshold (q76/q97/q102's
    //      eval discipline applied to dedup itself). Drop rules, each
    //      the detector's own gated pipeline verbatim: minhash = larger
    //      member of any >=2-band LSH pair (q22); simhash = larger
    //      member of any hamming<=3 SimHash64 pair (q85); span = docs
    //      with a majority of their 8-token spans owned by an earlier
    //      doc (q92's first-occurrence rule); semantic = q86's
    //      dropped_id at tau=0.4 (embeddings vec_id is the doc's
    //      embedding id — same 0..N-1 domain by construction,
    //      TESTDATA.md). The spine of all 6 detector pairs is a literal
    //      6-row local frame, so empty drop sets still produce their
    //      matrix row (keyed broadcast joins — no BNLJ); every
    //      intersection join is equi-keyed on doc_id. At 100 TB each
    //      drop set is corpus-bounded and keyed; the matrix itself is
    //      36 cells max ----
    "q113_dedup_agreement" -> ((s, d) => {
      val drops = dedupDropSets(s, d)
      val sizes = drops.groupBy(col("det")).agg(count(lit(1)).as("n"))
      val inter = drops.select(col("det").as("det_a"), col("doc_id"))
        .join(drops.select(col("det").as("det_b"), col("doc_id")), Seq("doc_id"))
        .filter(col("det_a") < col("det_b"))
        .groupBy(col("det_a"), col("det_b")).agg(count(lit(1)).as("n_both"))
      import s.implicits._
      val spine = Seq("minhash", "semantic", "simhash", "span")
        .combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
        .toDF("det_a", "det_b")
      spine
        .join(sizes.select(col("det").as("det_a"), col("n").as("n_a")), Seq("det_a"), "left")
        .join(sizes.select(col("det").as("det_b"), col("n").as("n_b")), Seq("det_b"), "left")
        .join(inter, Seq("det_a", "det_b"), "left")
        .select(col("det_a"), col("det_b"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          coalesce(col("n_both"), lit(0L)).as("n_both"))
        .withColumn("uni", col("n_a") + col("n_b") - col("n_both"))
        .withColumn("jaccard",
          when(col("uni") > 0,
            round(col("n_both").cast("double") / col("uni"), 6)))
        .drop("uni")
        .orderBy(col("det_a"), col("det_b"))
    }),

    // ---- LSH RECALL eval — the missing twin of q102's precision: of
    //      the pairs that genuinely ARE near-dups (exact 3-gram
    //      Jaccard >= 0.5 on the 120-char prefix), what fraction does
    //      the banded-LSH candidate generator find? Ground truth comes
    //      from a fenced brute-force pass: a bounded doc SAMPLE
    //      (doc_id % 29 — ~3.4% of the corpus) broadcast against the full
    //      prefix projection (q25/q76's fenced-exact-side design; the
    //      only corpus-scale operand streams, never shuffles).
    //      Together q102+q114 bracket the banding operating point:
    //      precision says how much candidate budget is wasted, recall
    //      says what the shingle->band pipeline misses ----
    "q114_lsh_recall" -> ((s, d) => {
      // NGramJaccard per pair is the measured winner: the fused
      // codegen'd expression re-shingles both 120-char prefixes per
      // pair in primitive space (6.4 s at sf0.1) and beats the
      // precomputed-gram-array + array_intersect form (32.5 s — array
      // ops on string arrays leave codegen and allocate per call).
      // The verify pass now lives in the session-shared lshRecallTruth
      // artifact (the q201 sweep reads the same truth side).
      val truth = lshRecallTruth(s, d)
      val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2)
      val candDir = cand.select(col("a_id").as("q_id"), col("b_id").as("n_id"))
        .unionByName(cand.select(col("b_id").as("q_id"), col("a_id").as("n_id")))
        .filter(col("q_id") % 29 === 0)
        .withColumn("hit", lit(1))
      truth.join(candDir, Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6).as("recall"))
        .orderBy(col("q_id"))
    }),

    // ---- per-source curation report: each detector family's drop
    //      count and drop fraction BY SOURCE — the dashboard row a
    //      curator reads to see which ingest feeds are duplicate-heavy
    //      before committing a 100 TB dedup pass (and the per-source
    //      complement of q110's coverage view). Reuses dedupDropSets
    //      verbatim; the report adds one doc_id-keyed join against the
    //      (doc_id, source) projection and a source-cardinality-bounded
    //      aggregate — nothing corpus-quadratic on top of the
    //      detectors themselves ----
    "q117_source_dedup_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcTotals = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      dedupDropSets(s, d)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("det"))
        .agg(count(lit(1)).as("n_dropped"))
        .join(srcTotals, Seq("source"))
        .withColumn("drop_frac",
          round(col("n_dropped").cast("double") / col("n_docs"), 6))
        .select(col("source"), col("det"), col("n_dropped"), col("n_docs"),
          col("drop_frac"))
        .orderBy(col("source"), col("det"))
    }),

    // ---- classifier calibration eval: AUC of q108's frozen logistic
    //      quality score against q100's Gopher rule battery as the
    //      binary label — does the learned scorer rank rule-passing
    //      docs above rule-failing ones? Mann-Whitney AUC with exact
    //      tie handling: average ranks over DISTINCT score groups, so
    //      the one unpartitioned window runs over a frame bounded by
    //      the score resolution (sigmoid rounded to 6 decimals -> at
    //      most ~1e6 distinct values whatever the corpus size — q110's
    //      bounded-window discipline, not a corpus-sized sort). The
    //      per-doc feature pass is one scan; everything after is
    //      resolution-bounded ----
    "q116_classifier_auc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val f = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("double").as("n_words"),
          size(col("toks")).cast("long").as("n_words_l"),
          TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
          TA.punctRatio(col("text")).as("punct"),
          TA.stopwordRatioFromTokens(col("ltoks")).as("stop"),
          round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
            / size(col("ltoks")).cast("double"), 6).as("dup_frac"))
      val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
        lit(0.4) * abs(col("mwl") - lit(5.0)) +
        lit(0.15) * log(lit(1.0) + col("n_words"))
      // label thresholds apply to the ROUNDED features — q100's exact
      // published battery, so the two gated queries stay in lockstep
      val scored = f.select(
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"),
        (col("n_words_l") >= 50 && col("n_words_l") <= 100000 &&
          round(col("mwl"), 6) >= 3.0 && round(col("mwl"), 6) <= 10.0 &&
          round(col("stop"), 6) >= 0.02 &&
          col("dup_frac") <= 0.9).cast("long").as("label"))
      val gs = scored.groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = gs
        .withColumn("cumb", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("avg_rank",
          col("cumb").cast("double") + (col("n").cast("double") + 1.0) / 2.0)
      ranked.agg(
          sum(col("n_pos")).as("np"),
          sum(col("n") - col("n_pos")).as("nn"),
          sum(col("n_pos").cast("double") * col("avg_rank")).as("srp"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          when(col("np") > 0 && col("nn") > 0,
            round((col("srp") - col("np").cast("double") *
              (col("np").cast("double") + 1.0) / 2.0) /
              (col("np").cast("double") * col("nn").cast("double")), 6))
            .as("auc"))
    }),

    // ---- STREAMING near-dup ingest — q95's persisted-signature
    //      discipline composed with the §2.10 streaming stack: the
    //      delta docs arrive as a file stream (4 micro-batches), and
    //      each batch's banded signatures equi-join the PERSISTED base
    //      signature table on (band, minhash) — never a base×base pair
    //      and never a corpus rescan, which is exactly the nightly
    //      ingest loop at 100 TB (signatures are an output of the last
    //      corpus build; the per-batch work is |batch| signatures ×
    //      keyed lookup). Flagged pairs append through the
    //      batch_id-partitioned K2 sink; the compared frame is the
    //      read-back union over batches, gated on the SAME oracle as
    //      q91/q95 — the streaming path must be value-identical to the
    //      batch paths. (Divergence note: the bucket cap applies per
    //      base+batch bucket here vs base+all-delta in q95 — identical
    //      below the cap, i.e. everywhere outside degenerate
    //      boilerplate buckets.) ----
    "q115_stream_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the same persisted base-signature table q95 reads (shared key,
      // so one materialization serves both consumers per session)
      val baseSig = v1SigArtifact(s, d)
      // persisted bucket-count artifact: the per-batch cap reads this
      // instead of re-aggregating the signature table 4 times
      val baseCnt = sigCountArtifact(s,
        s"graft_q95cnt_${CoreQueries.dirToken(d)}", baseSig)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q115_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q115_sdedup_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            // writeBatch = the spec'd idempotent per-batch-id overwrite
            // (StreamingSpec replay test) — an at-least-once replay of
            // a batch absorbs cleanly
            graft.streaming.Streaming.writeBatch(
              streamBatchCandidates(batch.toDF(), baseSig,
                baseCounts = Some(baseCnt)), id, out,
              append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("delta_id"), col("base_id"), col("n_bands"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- semantic-dedup τ calibration curve: how many docs would the
    //      embedding dedup drop at each threshold? One τ-free pass
    //      computes every candidate's BEST-witness cosine
    //      (semanticMaxSim — the same cell-bounded pair pipeline q86
    //      runs, plus one map-side-combinable max), then the sweep is
    //      six conditional sums over that per-doc frame — no join, no
    //      re-running pair generation per τ. The number a curator
    //      reads next to q113's agreement row before committing a τ ----
    "q118_semantic_tau_sweep" -> ((s, d) => {
      val ms = Similarity.semanticMaxSim(Tables.embeddings(s, d),
        "vec_id", "embedding", nCells = 16)
      def atTau(t: Double) =
        sum((col("max_sim") >= t).cast("long")).as(f"n_tau_${(t * 100).toInt}%02d")
      ms.agg(count(lit(1)).as("n_candidates"),
        atTau(0.3), atTau(0.4), atTau(0.5), atTau(0.6), atTau(0.7), atTau(0.8))
    }),

    // ---- quality-score importance resampling (CCNet-style soft
    //      filter): keep a doc with probability equal to its q108
    //      quality score, decided by a DETERMINISTIC per-doc uniform
    //      draw (md5(doc_id) first 6 hex / 0xffffff) so the sample is
    //      reproducible across engines and runs — the soft alternative
    //      to a hard keep/drop threshold that preserves a graded
    //      quality mix. Pure scan-stage arithmetic; zero shuffles
    //      before the output sort ----
    "q119_quality_resample" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("double").as("n_words"),
          TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
          TA.punctRatio(col("text")).as("punct"),
          TA.stopwordRatioFromTokens(col("ltoks")).as("stop"))
      val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
        lit(0.4) * abs(col("mwl") - lit(5.0)) +
        lit(0.15) * log(lit(1.0) + col("n_words"))
      f.select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality_score"),
          round(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("double") / lit(16777215.0), 6).as("u"))
        .filter(col("u") < col("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // ---- weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    //      A-ES): key each doc u^(1/w) with w = its q108 quality score
    //      and the same deterministic md5 uniform draw as q119, keep
    //      the top-k keys. One pass + TakeOrderedAndProject — k-bounded
    //      however large the corpus, no global sort — and the exact
    //      distributed analog of "sample k docs with probability
    //      proportional to quality". q119 is the Bernoulli (variable
    //      size) sampler; this is the fixed-size one ----
    "q120_weighted_sample" -> ((s, d) =>
      esKeyFrame(s, d)
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("quality_score"), col("skey"))),

    // ---- IVF nProbe recall sweep — the ANN twin of q118's τ curve:
    //      recall@3 vs the exact ranking at nProbe = 1/2/4/8/16, in
    //      one gated row set. nProbe is THE inverted-file operating
    //      knob (probe more cells → more recall, proportionally more
    //      scan); this is the measurement that picks it before a
    //      corpus-scale index commits. nProbe=16 probes EVERY cell, so
    //      its recall is the 1.0 ceiling by construction — the sweep
    //      shows where the curve saturates on the way there (PLANS.md
    //      records the measured operating point for the q44/q94
    //      default). The exact side is q76's fenced bounded-query
    //      brute force, persisted once across the five probe levels;
    //      each approximate side is the same bounded-centroid +
    //      cell-keyed ivfTopK the production path runs ----
    "q121_ivf_probe_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = graft.util.Persist(
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      Seq(1, 2, 4, 8, 16).map { p =>
        val approx = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
            k = 3, nProbe = p)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(approx,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("a_n")).as("n_found"))
          .select(lit(p.toLong).as("n_probe"), col("n_exact"), col("n_found"),
            round(col("n_found").cast("double") / col("n_exact"), 6).as("recall"))
      }.reduce(_.unionByName(_))
        .orderBy(col("n_probe"))
    }),

    // ---- per-detector precision/recall against the PLANTED ground
    //      truth — turns q113's relative agreement matrix into an
    //      absolute score. The fixture generator plants near-dup
    //      families by appending " dup" tokens to a base text
    //      (TESTDATA seed=42; every family member shares the text root
    //      after stripping trailing " dup" repeats), so the truth drop
    //      set is derivable EXACTLY: non-minimal doc_ids of each root
    //      group — the same keep-min-id convention every detector
    //      family uses. Root groups key by a 16-hex md5 prefix (q92's
    //      bounded-key discipline: the exchange width never depends on
    //      text length). Reuses the Persist'd dedupDropSets, so the
    //      four detector pipelines still run once per session across
    //      q113/q117/q124. The semantic row scores an EMBEDDING-space
    //      detector against TEXT-planted truth — its near-zero
    //      precision here is the same cross-modality disjointness
    //      q113's agreement matrix measures, now in absolute terms ----
    "q124_detector_truth_eval" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val truth = graft.util.Persist(docs
        .select(col("doc_id"),
          substring(md5(regexp_replace(col("text"), "( dup)+$", "")), 1, 16)
            .as("gk"))
        .withColumn("keep", min(col("doc_id")).over(Window.partitionBy(col("gk"))))
        .filter(col("doc_id") =!= col("keep"))
        .select(col("doc_id")))
      val st = dedupDropSets(s, d)
        .join(truth.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .groupBy(col("det"))
        .agg(count(lit(1)).as("n_dropped"), count(col("hit")).as("n_hit"))
      val tc = truth.agg(count(lit(1)).as("n_truth"))
      Seq("minhash", "semantic", "simhash", "span").toDF("det")
        .join(st, Seq("det"), "left")
        .crossJoin(broadcast(tc))
        .select(col("det"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          col("n_truth"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(coalesce(col("n_dropped"), lit(0L)) > 0,
            round(col("n_hit").cast("double") / col("n_dropped"), 6)).as("prec"),
          when(col("n_truth") > 0,
            round(coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_truth"), 6)).as("recall"))
        .orderBy(col("det"))
    }),

    // ---- IVF-PQ ANN with asymmetric-distance (ADC) scoring — the
    //      composition a 100 TB vector index deploys (FAISS IVFPQ):
    //      coarse cells bound candidates (q44's keyed equi-join), and
    //      the corpus side inside a cell is ONLY its 8-byte PQ code —
    //      fp32 vectors are dropped at encode, the index shard is ~32×
    //      smaller, and scoring is 8 LUT lookups + adds per candidate
    //      instead of a 64-length fold. The next rung of the
    //      quantization ladder after q81/q94's 4× int8 ----
    "q127_pq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqAdcTopK(emb.filter(col("vec_id") < 50), emb,
          "vec_id", "embedding", k = 3)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- ADC recall gate: q127's approximate ranking vs the exact
    //      INNER-PRODUCT top-3 (ADC approximates q·n, not cosine, so
    //      its truth side is the exact-IP ranking — q76/q97's fenced
    //      bounded-query brute-force design, IP metric) ----
    "q128_pq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
        .select(col("q_id"), col("n_id"))
      val approx = Similarity.pqAdcTopK(q, emb, "vec_id", "embedding", k = 3)
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(3.0), 6).as("recall_at_3"))
        .orderBy(col("q_id"))
    }),

    // ---- PQ reconstruction distortion: per-subspace mean squared L2
    //      error of the encode — the quantization-quality report read
    //      before committing a codebook geometry (the PQ twin of q97's
    //      recall gate; distortion up ⇒ recall down). Pure scan-stage
    //      encode + one 8-row-bounded aggregate: zero joins, zero
    //      broadcast, distributes at any corpus size ----
    "q129_pq_distortion" -> ((s, d) => {
      Similarity.pqDistortion(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("sub"))
    }),

    // ---- PQ TRAINING: one Lloyd refinement per sub-codebook (the
    //      per-subspace k-means of Jégou et al. — q74's discipline at
    //      the PQ rung). Long-form (sub, c, pos) rows; the only
    //      shuffle is keyed by (sub, c, pos) with map-side partials —
    //      ≤1024 groups at any corpus size ----
    "q130_pq_train" -> ((s, d) => {
      Similarity.pqTrainIteration(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("sub"), col("c"), col("pos"))
    }),

    // ---- training gain: corpus MSE under the static codebook vs the
    //      q130-refined one, per subspace — the measured proof the
    //      training iteration moves the operating point (the PQ
    //      analogue of the q121/q126 knob sweeps). The refined
    //      codebook is a COLLECTED training artifact — 1024 doubles,
    //      q96's bounded-collect discipline — inlined as literals for
    //      the re-encode, which stays pure scan-stage ----
    "q131_pq_refine_gain" -> ((s, d) => {
      Similarity.pqRefineGain(Tables.embeddings(s, d), "vec_id", "embedding",
          pqRefinedCodebook(s, d))
        .orderBy(col("sub"))
    }),

    // ---- LEAKAGE-SAFE train/test split: near-dup cluster members
    //      must land in ONE split, or held-out eval leaks training
    //      text (the split bug that silently inflates benchmarks).
    //      Composes three gated pieces: MinHash candidates off the
    //      persisted signature table (q22), connected components
    //      (q45), and the q46 md5-bucket rule — applied to the CLUSTER
    //      REPRESENTATIVE (component min id; singletons key on
    //      themselves), so co-assignment is by construction. Output is
    //      the audit: candidate pairs crossing splits under the naive
    //      per-doc rule vs the cluster rule (cluster row must be 0 —
    //      asserted by spec, measured by the oracle) ----
    "q132_leakage_safe_split" -> ((s, d) => {
      val cand = graft.util.Persist(
        Dedup.minhashCandidates(corpusSignatures(s, d))
          .filter(col("n_bands") >= 2)
          .select(col("a_id"), col("b_id")))
      val assigned = splitAssignments(s, d, cand)
      val a = assigned.select(col("doc_id").as("a_id"),
        col("naive_split").as("a_n"), col("cluster_split").as("a_c"))
      val b = assigned.select(col("doc_id").as("b_id"),
        col("naive_split").as("b_n"), col("cluster_split").as("b_c"))
      val agg1 = cand.join(a, Seq("a_id")).join(b, Seq("b_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("a_n") =!= col("b_n"), 1L).otherwise(0L)).as("cross_naive"),
          sum(when(col("a_c") =!= col("b_c"), 1L).otherwise(0L)).as("cross_cluster"))
      agg1.select(col("n_pairs"),
          expr("stack(2, 'cluster', cross_cluster, 'naive', cross_naive)")
            .as(Seq("policy", "cross_pairs")))
        .select(col("policy"), col("n_pairs"), col("cross_pairs"),
          when(col("n_pairs") > 0,
            round(col("cross_pairs").cast("double") / col("n_pairs"), 6))
            .as("leak_frac"))
        .orderBy(col("policy"))
    }),

    // ---- per-source fixed-budget weighted sampling: q120's
    //      Efraimidis–Spirakis keys ranked WITHIN each source (top-5
    //      per source) — the per-domain quota a curation run enforces
    //      (a global top-k lets one high-quality source crowd out the
    //      rest). One source-keyed exchange + per-source window sort;
    //      at corpus scale, pre-filter with an approximate per-source
    //      skey threshold before the window to bound the sort input ----
    "q133_source_weighted_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("skey").desc, col("doc_id"))
      esKeyFrame(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("doc_id"),
          col("quality_score"), col("skey"))
        .orderBy(col("source"), col("rk"))
    }),

    // ---- dimension-truncation recall sweep (matryoshka trade): exact
    //      cosine on the first 8/16/32/64 components vs the full-dim
    //      exact top-3 — the storage/compute-vs-recall knob a
    //      prefix-truncated index commits to (completes the embedding
    //      knob family: nProbe q121, τ q118, PQ q128/q131). d=64 is
    //      the full vector, so its recall is the 1.0 ceiling by
    //      construction (q121's nProbe=16 discipline). Both sides are
    //      q76's fenced bounded-query brute force; the exact side is
    //      persisted across the four truncation levels ----
    "q134_truncation_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = graft.util.Persist(
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      Seq(8, 16, 32, 64).map { td =>
        val approx = Similarity.truncatedTopK(q, emb, "vec_id", "embedding",
            k = 3, d = td)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(approx,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("a_n")).as("n_found"))
          .select(lit(td.toLong).as("trunc_dim"), col("n_exact"), col("n_found"),
            round(col("n_found").cast("double") / col("n_exact"), 6).as("recall"))
      }.reduce(_.unionByName(_))
        .orderBy(col("trunc_dim"))
    }),

    // ---- STREAMING semantic near-dup ingest — the third detector
    //      family's incremental loop (MinHash q115, SimHash q123, now
    //      embeddings): delta vectors arrive as a file stream (4
    //      micro-batches); each batch builds its cell index (bounded
    //      centroid BNLJ) and equi-joins the PERSISTED base cell index
    //      on the cell id — delta×base pairs only, cosine thresholded
    //      at q86's τ=0.4 with the shared round(sim,6) discipline;
    //      never a base×base pair, never a corpus rescan. Appended
    //      through the same idempotent batch_id-partitioned K2 sink;
    //      gated on the q86-family oracle restricted to cross-side
    //      pairs, so the streaming path must be value-identical to the
    //      batch detector on the delta×base slice. (Same documented
    //      cap divergence as q115/q123: per base+batch cell counting
    //      vs whole-corpus — identical below the cap.) ----
    "q135_stream_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // persisted base cell index + (cell, cn) count artifact: the
      // corpus build's embedding-index output; per-batch cell caps
      // read the counts instead of re-aggregating the index 4 times
      val baseIdx = v1CellIndexArtifact(s, d)
      val baseCnt = v1CellCountArtifact(s, d)
      val delta = emb.filter(isDeltaDoc(col("vec_id")))
        .select(col("vec_id"), col("embedding"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q135_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q135_ssem_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            graft.streaming.Streaming.writeBatch(
              streamBatchSemantic(batch.toDF(), baseIdx,
                baseCellCounts = Some(baseCnt)), id, out,
              append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("delta_id"), col("base_id"), col("sim"), col("cell"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- trained-ADC recall: q128's gate re-run with q130's REFINED
    //      codebook — the train→deploy close of the PQ loop, and the
    //      measured answer to "does the Lloyd step buy recall, not
    //      just distortion?" (q131 shows mse 0.42→0.08; this shows
    //      what that does to the ranking). Same fenced exact-IP truth
    //      side as q128; the refined codebook is the memoized 1024-
    //      double artifact, inlined as literals — identical plan shape
    //      to q127 with trained constants ----
    "q136_pq_trained_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val cb = pqRefinedCodebook(s, d).groupBy(_._1)
        .map { case (sub, xs) => sub -> xs.sortBy(_._2).map(_._3) }
      val exact = Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
        .select(col("q_id"), col("n_id"))
      val approx = Similarity.pqAdcTopKWith(q, emb, "vec_id", "embedding",
          k = 3, cb)
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(3.0), 6).as("recall_at_3"))
        .orderBy(col("q_id"))
    }),

    // ---- STREAMING ANN-index maintenance: the index ARTIFACT itself
    //      kept current incrementally — the fourth incremental loop,
    //      after the three detector families (q115/q123/q135). Base
    //      corpus (~13/16 of vectors by the md5 rule) batch-builds the
    //      persisted quantized-IVF index once; delta vectors arrive as
    //      a 4-micro-batch file stream and each batch appends its OWN
    //      index rows (int8 code + code-space cell, q94's deployed
    //      frame) through the idempotent batch_id-partitioned K2 sink.
    //      No base join, no corpus rescan: appending a batch costs
    //      |batch| x 16 centroid dots, independent of index size. The
    //      result is base ∪ appended-delta — and the oracle replays a
    //      FULL batch rebuild of the whole-corpus index, so the gate
    //      proves incremental maintenance is value-identical to
    //      rebuilding from scratch (the invariant that lets a 100 TB
    //      deployment never rebuild). `src` tags which path produced
    //      each row; the oracle derives it from the md5 split rule. ----
    "q137_stream_index_ingest" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idxDir = CoreQueries.sharedInputDir(
        s"graft_q137_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.quantizedIndex(emb.filter(!isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding").write.mode("overwrite").parquet(p)
      }
      val baseIdx = s.read.parquet(idxDir)
      val delta = emb.filter(isDeltaDoc(col("vec_id")))
        .select(col("vec_id"), col("embedding"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q137_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q137_sidx_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            graft.streaming.Streaming.writeBatch(
              streamBatchQuantIndex(batch.toDF()), id, out, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("cell"), col("id"), col("code"), col("scale"), col("cnorm"))
        .withColumn("src", lit("delta"))
        .unionByName(baseIdx
          .select(col("cell"), col("id"), col("code"), col("scale"),
            col("cnorm"))
          .withColumn("src", lit("base")))
        .select(col("cell"), col("id").as("vec_id"),
          // list-typed columns crash the driver's pandas sort_values
          // (unhashable ndarray) — compare the codes as a CSV string
          // (q81/q31 discipline)
          array_join(transform(col("code"), _.cast("string")), ",")
            .as("code"),
          round(col("scale"), 6).as("scale"),
          round(col("cnorm"), 6).as("cnorm"), col("src"))
        .orderBy(col("vec_id"))
    }),

    // ---- per-detector TOKEN impact: what each dedup family costs in
    //      the training currency — BPE tokens under the q96-trained
    //      vocabulary — not row counts (q117 reports docs per source;
    //      a curator budgeting a token target needs THIS view: 500
    //      dropped boilerplate snippets ≠ 500 dropped long documents).
    //      Reuses the Persist'd dedupDropSets (q113/q117) and the
    //      memoized trained-merge encode (q122): one doc_id-keyed join
    //      + a 4-row aggregate; the corpus-total divisor is a one-row
    //      broadcast scalar (q48's pattern). ----
    "q138_dedup_token_impact" -> ((s, d) => {
      val enc = bpeEncoded(s, d).select(col("doc_id"), col("n_tokens"))
      val tot = enc.agg(sum(col("n_tokens")).as("corpus_tokens"))
      dedupDropSets(s, d).join(enc, Seq("doc_id"))
        .groupBy(col("det"))
        .agg(count(lit(1)).as("docs_dropped"),
          sum(col("n_tokens")).as("tokens_dropped"))
        .crossJoin(broadcast(tot))
        .select(col("det"), col("docs_dropped"), col("tokens_dropped"),
          round(col("tokens_dropped").cast("double") /
            col("corpus_tokens").cast("double"), 6).as("token_frac"))
        .orderBy(col("det"))
    }),

    // ---- cross-split TEXT leakage: q132 counts candidate PAIRS that
    //      straddle splits; this measures what actually leaks — 8-token
    //      spans (q92's 16-hex keys) present in BOTH a policy's train
    //      and test sides. The cluster policy co-locates minhash
    //      components, so its residual is span overlap between docs
    //      the detector never paired (sub-threshold sharing) — the
    //      honest floor a curator compares against the naive rule's
    //      number. Long-form stack over the two policies; shuffles are
    //      keyed by (doc_id, span_key) distinct, (policy, span_key)
    //      agg, then a 2-row rollup — every exchange keyed, corpus-
    //      scale-proportional, no join wider than the split map. ----
    "q139_split_span_leak" -> ((s, d) => {
      val cand = graft.util.Persist(
        Dedup.minhashCandidates(corpusSignatures(s, d))
          .filter(col("n_bands") >= 2)
          .select(col("a_id"), col("b_id")))
      val spans = Tables.documents(s, d)
        .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
        .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
        .filter(col("n_spans") >= 1)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0L), col("n_spans") - 1),
            i => substring(md5(array_join(
              slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")), 1, 16)))
            .as("span_key"))
        .distinct()
      spans.join(splitAssignments(s, d, cand), Seq("doc_id"))
        .select(col("span_key"),
          expr("stack(2, 'naive', naive_split, 'cluster', cluster_split)")
            .as(Seq("policy", "split")))
        .groupBy(col("policy"), col("span_key"))
        .agg(max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
          max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
        .filter(col("in_test") === 1)
        .groupBy(col("policy"))
        .agg(count(lit(1)).as("n_test_spans"),
          sum(col("in_train")).cast("long").as("n_leaked"))
        .select(col("policy"), col("n_test_spans"), col("n_leaked"),
          round(col("n_leaked").cast("double") / col("n_test_spans"), 6)
            .as("leak_frac"))
        .orderBy(col("policy"))
    }),

    // ---- token-budget mixture plan: the RECIPE a curation run
    //      commits before sampling — per-source trained-BPE token
    //      supply (q122's currency, q138's discipline) vs a uniform
    //      per-source target share of a global token budget; emits the
    //      sampling fraction (downsample) or epoch factor (upsample,
    //      q77's oversampling theme) that hits the target. Per-source
    //      aggregate + one-row source-count broadcast — plan is
    //      source-cardinality-bounded at any corpus size. ----
    "q140_token_budget_mix" -> ((s, d) => {
      val budget = 50000L // global token budget (deploy-time knob)
      val perSrc = bpeEncoded(s, d).groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("n_tokens"))
      val nSrc = perSrc.agg(count(lit(1)).as("n_sources"))
      perSrc.crossJoin(broadcast(nSrc))
        .withColumn("target_tokens",
          round(lit(budget.toDouble) / col("n_sources"), 6))
        .select(col("source"), col("n_tokens"), col("target_tokens"),
          round(least(lit(1.0),
            col("target_tokens") / col("n_tokens").cast("double")), 6)
            .as("sample_frac"),
          round(col("target_tokens") / col("n_tokens").cast("double"), 6)
            .as("epochs"))
        .orderBy(col("source"))
    }),

    // ---- INCREMENTAL cluster maintenance — the missing half of the
    //      incremental dedup story: q91/q95/q115 keep the candidate
    //      PAIRS current, but the cluster table (q45's artifact) was
    //      still a full-corpus recompute. Contracted-supergraph CC:
    //      the persisted base cluster table's LABELS and the delta doc
    //      ids are the only nodes; delta×base edges map base_id →
    //      its label, delta×delta edges ride as-is; min-propagation
    //      over this |delta|-proportional graph reproduces EXACTLY the
    //      min-doc_id labels of a from-scratch CC — including when one
    //      delta doc bridges two base clusters and merges them (the
    //      case the unit spec pins). The oracle replays a full
    //      recompute over the whole corpus, so the gate proves
    //      maintenance ≡ rebuild — q137's index invariant, now for the
    //      cluster artifact. Base side: reads the persisted q95
    //      signature table and a persisted cluster table ("the last
    //      run's output"); per-ingest cost is delta-proportional. ----
    "q141_incremental_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (baseSig, baseLab) = baseClusterArtifacts(s, d)
      val deltaSig = Dedup.bandedSignatures(
        docs.filter(isDeltaDoc(col("doc_id"))), "text", "doc_id", k = 8)
      val cross = streamSigCandidates(
        deltaSig.select(col("band"), col("minhash"), col("doc_id").as("delta_id")),
        baseSig.select(col("band"), col("minhash"), col("doc_id").as("base_id")),
        minBands = 2,
        baseCounts = Some(sigCountArtifact(s,
          s"graft_q95cnt_${CoreQueries.dirToken(d)}", baseSig)))
        .select(col("delta_id"), col("base_id"))
      val dd = Dedup.minhashCandidates(deltaSig)
        .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id"))
      Dedup.incrementalComponents(baseLab, cross, dd,
          docs.filter(isDeltaDoc(col("doc_id"))).select(col("doc_id")))
        .orderBy(col("doc_id"))
    }),

    // ---- the cluster-maintenance LOOP run twice in sequence (q112's
    //      two-run capstone discipline, applied to q141): ingest 1
    //      merges delta1 into the persisted base cluster table and
    //      WRITES the merged table; ingest 2 reads that artifact back
    //      and merges delta2 against the GROWN signature table (so
    //      delta2×delta1 bridges resolve through ingest 1's labels).
    //      The oracle is still the one-shot whole-corpus rebuild —
    //      green means the merge is associative across runs: however
    //      the corpus arrives, batch by batch, the maintained table
    //      equals the rebuild. That is the nightly loop a 100 TB
    //      dedup deployment actually runs. ----
    "q142_cluster_ingest_chain" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (sig0, lab0) = baseClusterArtifacts(s, d)
      val d1 = docs.filter(isDeltaDoc(col("doc_id")) && isFirstIngest(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val d2 = docs.filter(isDeltaDoc(col("doc_id")) && !isFirstIngest(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val (sig1, lab1raw) = clusterIngestStep(sig0, lab0, d1,
        baseCounts = Some(sigCountArtifact(s,
          s"graft_q95cnt_${CoreQueries.dirToken(d)}", sig0)))
      // run-1 output is a PERSISTED artifact run 2 reads back
      val lab1Dir = CoreQueries.sharedInputDir(
        s"graft_q142_lab1_${CoreQueries.dirToken(d)}") { p =>
        lab1raw.write.mode("overwrite").parquet(p)
      }
      val (_, lab2) = clusterIngestStep(sig1, s.read.parquet(lab1Dir), d2)
      lab2.select(col("doc_id"), col("lab").as("cluster_id"),
          when(isDeltaDoc(col("doc_id")) && isFirstIngest(col("doc_id")),
            lit("delta1"))
            .when(isDeltaDoc(col("doc_id")), lit("delta2"))
            .otherwise(lit("base")).as("src"))
        .orderBy(col("doc_id"))
    }),

    // ---- CLUSTER-level truth eval: q124 scores each detector's DROP
    //      SET against the planted truth; this scores the minhash
    //      CLUSTERING itself (q45's artifact) with pair-counting
    //      precision/recall/F1 against the planted md5-root families —
    //      the standard external clustering metric, computed WITHOUT
    //      enumerating pairs: TP/P/T come from contingency-cell counts
    //      (Σ n·(n−1)/2 over (cluster, family) cells, clusters, and
    //      families), so the eval is three keyed aggregates over the
    //      label frame however large the corpus — and F1 reduces to
    //      2·TP/(P+T), no per-pair work anywhere. Non-candidate docs
    //      count as singletons (no pairs), matching q141's full-label
    //      discipline. ----
    "q143_cluster_purity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cand = graft.util.Persist(
        Dedup.minhashCandidates(corpusSignatures(s, d))
          .filter(col("n_bands") >= 2)
          .select(col("a_id"), col("b_id")))
      val comp = Dedup.connectedComponents(cand, "a_id", "b_id")
      val lab = graft.util.Persist(docs
        .select(col("doc_id"),
          substring(md5(regexp_replace(col("text"), "( dup)+$", "")), 1, 16)
            .as("gk"))
        .join(comp.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cl"), col("gk")))
      // n·(n−1)/2 in pure integer arithmetic (shiftright, not float
      // division — exact at any cluster size)
      def pairs(n: Column): Column = shiftright((n * (n - 1)).cast("long"), 1)
      val tp = lab.groupBy(col("cl"), col("gk")).agg(count(lit(1)).as("n"))
        .agg(sum(pairs(col("n"))).as("tp"))
      val pp = lab.groupBy(col("cl")).agg(count(lit(1)).as("n"))
        .agg(sum(pairs(col("n"))).as("pp"))
      val tt = lab.groupBy(col("gk")).agg(count(lit(1)).as("n"))
        .agg(sum(pairs(col("n"))).as("tt"))
      tp.crossJoin(broadcast(pp)).crossJoin(broadcast(tt))
        .select(col("tp").as("n_hit_pairs"), col("pp").as("n_pred_pairs"),
          col("tt").as("n_truth_pairs"),
          round(col("tp").cast("double") / col("pp"), 6).as("pair_prec"),
          round(col("tp").cast("double") / col("tt"), 6).as("pair_recall"),
          round(lit(2.0) * col("tp") / (col("pp") + col("tt")), 6).as("pair_f1"))
    }),

    // ---- STREAMING cluster maintenance — q142's chain generalized to
    //      a real stateful stream: the delta arrives as 4 micro-batches
    //      and EACH batch (a) appends its banded signatures to the
    //      versioned signature store (batch_id-partitioned, replay-
    //      idempotent), (b) reads the label table AS OF the previous
    //      batch, (c) contracted-supergraph-merges its delta-touching
    //      candidates, and (d) writes label version N — sequential
    //      state through the idempotent per-batch-id sink, so an
    //      at-least-once replay of any batch recomputes the same
    //      version from the same inputs. Per-batch work is
    //      |batch|-proportional (cross equi-join + supergraph CC);
    //      the final read-back is the highest label version. Gated on
    //      the SAME one-shot rebuild oracle as q141: green = however
    //      the corpus arrives, in however many batches, the maintained
    //      table equals the from-scratch rebuild. ----
    "q144_stream_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (baseSig, baseLab) = baseClusterArtifacts(s, d)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q144_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q144_sclus_")
      val sigRoot = s"$dir/sig"; val labRoot = s"$dir/lab"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val batchDF = batch.toDF()
            graft.streaming.Streaming.writeBatch(
              Dedup.bandedSignatures(batchDF, "text", "doc_id", k = 8),
              id, sigRoot, append = true)
            val bSig = s.read.parquet(s"$sigRoot/batch_id=$id")
            val priorSig =
              if (id == 0L) baseSig
              else baseSig.unionByName(s.read.parquet(sigRoot)
                .filter(col("batch_id") < id).drop("batch_id"))
            val prevLab =
              if (id == 0L) baseLab
              else s.read.parquet(s"$labRoot/batch_id=${id - 1}")
            graft.streaming.Streaming.writeBatch(
              streamBatchClusterMerge(bSig, priorSig, prevLab,
                batchDF.select(col("doc_id"))),
              id, labRoot, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val versions = s.read.parquet(labRoot)
      versions
        .join(broadcast(versions.agg(max(col("batch_id")).as("m"))),
          col("batch_id") === col("m"))
        .select(col("doc_id"), col("lab").as("cluster_id"),
          when(isDeltaDoc(col("doc_id")), lit("delta"))
            .otherwise(lit("base")).as("src"))
        .orderBy(col("doc_id"))
    }),

    // ---- vocabulary DRIFT monitor: OOV rate of the incoming delta
    //      slice against the BASE-trained top-k vocabulary, side by
    //      side with the base's own rate — the retraining trigger a
    //      tokenizer deployment watches (rising delta OOV = the corpus
    //      outgrew the frozen vocab; q88 is the per-doc view against
    //      the whole-corpus vocab, this is the monitoring aggregate
    //      against the base-only vocab). k-bounded vocab broadcast
    //      (TakeOrderedAndProject), one scan, one 2-row aggregate. ----
    "q145_vocab_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseVocab = docs.filter(!isDeltaDoc(col("doc_id")))
        .select(explode(TA.wsTokens(lower(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(20)
        .select(col("term"), lit(true).as("in_vocab"))
      docs.select(
          when(isDeltaDoc(col("doc_id")), lit("delta"))
            .otherwise(lit("base")).as("side"),
          explode(TA.wsTokens(lower(col("text")))).as("term"))
        .join(broadcast(baseVocab), Seq("term"), "left")
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
        .select(col("side"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
        .orderBy(col("side"))
    }),

    // ---- index cell-SKEW report: the hotCells/SCALE_LADDER pre-flight
    //      audit as a first-class gated query — per-cell row counts of
    //      the quantized IVF index reduced to the numbers a deployment
    //      alarms on (cell count, min/max/avg occupancy, max/avg
    //      skew). A skew creeping toward the 10k cap means the
    //      centroids no longer fit the data (retrain trigger, q130's
    //      Lloyd step). Cell-cardinality-bounded aggregate; one-row
    //      output. ----
    "q146_index_cell_stats" -> ((s, d) => {
      val cellCnt = Similarity.quantizedIndex(
          Tables.embeddings(s, d), "vec_id", "embedding")
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      cellCnt.agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_rows"),
          min(col("n")).as("min_cell"), max(col("n")).as("max_cell"),
          round(avg(col("n")), 6).as("avg_cell"))
        .select(col("n_cells"), col("n_rows"), col("min_cell"),
          col("max_cell"), col("avg_cell"),
          round(col("max_cell") / col("avg_cell"), 6).as("skew"))
    }),

    // ---- source-mix DRIFT monitor: the q145 discipline for the
    //      ingest mix — per-source document share of the delta slice
    //      vs the base corpus, with the ratio a pipeline alarms on
    //      when a source's share jumps (upstream crawler change,
    //      partner feed breakage). One scan, source-cardinality-
    //      bounded aggregates, full-outer on source so a source
    //      APPEARING only in the delta (the classic incident) still
    //      surfaces. ----
    "q147_source_mix_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def share(side: DataFrame): DataFrame = {
        val n = side.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        n.crossJoin(broadcast(n.agg(sum(col("cnt")).as("tot"))))
          .select(col("source"), col("cnt"),
            round(col("cnt").cast("double") / col("tot"), 6).as("frac"))
      }
      val b = share(docs.filter(!isDeltaDoc(col("doc_id"))))
        .select(col("source"), col("cnt").as("base_docs"),
          col("frac").as("base_frac"))
      val dl = share(docs.filter(isDeltaDoc(col("doc_id"))))
        .select(col("source"), col("cnt").as("delta_docs"),
          col("frac").as("delta_frac"))
      b.join(dl, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("base_docs"), lit(0L)).as("base_docs"),
          coalesce(col("base_frac"), lit(0.0)).as("base_frac"),
          coalesce(col("delta_docs"), lit(0L)).as("delta_docs"),
          coalesce(col("delta_frac"), lit(0.0)).as("delta_frac"),
          when(col("base_frac").isNotNull && col("base_frac") > 0,
            round(coalesce(col("delta_frac"), lit(0.0)) / col("base_frac"), 6))
            .as("drift_ratio"))
        .orderBy(col("source"))
    }),

    // ---- INCREMENTAL span dedup — the span family's q95: the base
    //      corpus' distinct 8-token span keys are a PERSISTED owner
    //      set ("the existing corpus owns its spans"); the delta batch
    //      anti-joins it and resolves within-delta contention with
    //      q92's first-owner window. Per-ingest cost: delta spans +
    //      one keyed anti-join against the owner table — the base
    //      corpus is never re-exploded. This is the deployment rule a
    //      nightly CCNet-style boilerplate pass actually runs (new
    //      docs dedup against what the corpus already contains);
    //      within-delta the rule is q92's min-(doc_id, span_idx)
    //      owner, so the result is batch-arrival-independent. ----
    "q148_incremental_spans" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val baseOwn = baseSpanOwners(s, d)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
      val dsp = spanFrame(delta)
      val kept = dsp
        .join(baseOwn, Seq("k"), "left_anti")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k"))
            .orderBy(col("doc_id"), col("span_idx"))))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      delta.select(col("doc_id"),
          ceil(size(TA.wsTokens(lower(col("text")))) / lit(8.0)).cast("long")
            .as("n_spans"))
        .filter(col("n_spans") >= 1)
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(coalesce(col("n_kept"), lit(0L)).cast("double") /
            col("n_spans"), 6).as("keep_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---- STREAMING span dedup — the fourth detector family's
    //      streaming loop (MinHash q115, SimHash q123, semantic q135,
    //      spans here), and like q144 a STATEFUL one: each micro-batch
    //      claims the span keys not owned by the base set, resolves
    //      its own winner per key, and MIN-MERGES into the owner table
    //      as of the previous batch (batch_id-versioned store, replay
    //      recomputes the same version). min is associative and
    //      commutative, so the final owner table — and therefore every
    //      per-doc keep count — is independent of how the delta was
    //      batched: q149 gates on the SAME oracle as q148, which is
    //      the proof. ----
    "q149_stream_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseOwn = baseSpanOwners(s, d)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q149_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q149_sspan_")
      val ownRoot = s"$dir/own"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val prev =
              if (id == 0L) None
              else Some(s.read.parquet(s"$ownRoot/batch_id=${id - 1}"))
            graft.streaming.Streaming.writeBatch(
              streamBatchSpanOwners(batch.toDF(), baseOwn, prev),
              id, ownRoot, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val versions = s.read.parquet(ownRoot)
      val owners = versions
        .join(broadcast(versions.agg(max(col("batch_id")).as("m"))),
          col("batch_id") === col("m"))
      val kept = owners.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      delta.select(col("doc_id"),
          ceil(size(TA.wsTokens(lower(col("text")))) / lit(8.0)).cast("long")
            .as("n_spans"))
        .filter(col("n_spans") >= 1)
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(coalesce(col("n_kept"), lit(0L)).cast("double") /
            col("n_spans"), 6).as("keep_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---- RELEASE report capstone: the dataset-card numbers a corpus
    //      release publishes, as one long-form (metric, value)
    //      artifact — doc/source/char/word counts, exact-dup fraction
    //      (q21's key), trained-BPE token total + fertility (q122's
    //      currency), and top-20 OOV rate (q63/q88's vocab rule).
    //      One corpus scan for the base stats, the memoized BPE encode
    //      for the token row, the k-bounded vocab broadcast for OOV;
    //      three one-row scalar joins, then an 8-row stack. ----
    "q150_release_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.agg(
        count(lit(1)).cast("double").as("n_docs"),
        countDistinct(col("source")).cast("double").as("n_sources"),
        avg(length(col("text"))).as("avg_doc_chars"),
        sum(size(TA.wsTokens(lower(col("text"))))).cast("double").as("n_words"),
        countDistinct(md5(lower(substring(col("text"), 1, 40))))
          .cast("double").as("n_keys"))
      val bpe = bpeEncoded(s, d)
        .agg(sum(col("n_tokens")).cast("double").as("n_bpe_tokens"))
      val vocab = corpusVocab(s, d, k = 20)
        .select(col("term"), lit(true).as("in_vocab"))
      val oov = docs
        .select(explode(TA.wsTokens(lower(col("text")))).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .agg((sum(when(col("in_vocab"), 0L).otherwise(1L)).cast("double") /
          count(lit(1))).as("oov_rate_top20"))
      base.crossJoin(broadcast(bpe)).crossJoin(broadcast(oov))
        .select(expr(
          """stack(8,
             'avg_doc_chars', avg_doc_chars,
             'bpe_fertility', n_bpe_tokens / n_words,
             'exact_dup_frac', 1.0 - n_keys / n_docs,
             'n_bpe_tokens', n_bpe_tokens,
             'n_docs', n_docs,
             'n_sources', n_sources,
             'n_words', n_words,
             'oov_rate_top20', oov_rate_top20)""")
          .as(Seq("metric", "value")))
        .select(col("metric"), round(col("value"), 6).as("value"))
        .orderBy(col("metric"))
    }),

    // ---- classifier CALIBRATION curve: the reliability diagram that
    //      complements q116's AUC — AUC says the scorer RANKS
    //      rule-passing docs above failing ones (0.82), this says
    //      whether the score VALUES are trustworthy as probabilities:
    //      per predicted-score decile, mean predicted score vs
    //      observed rule-pass rate and the |gap| a curator reads
    //      before using the score as a sampling weight (q119/q120
    //      both do exactly that). Same frozen q108 scorer and q100
    //      label battery as q116, so the three classifier queries
    //      stay in lockstep. Pure scan-stage features + a 10-row
    //      aggregate — nothing here sees corpus cardinality ----
    "q151_classifier_calibration" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TA.wsTokens(col("text")).as("toks"),
          TA.wsTokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"),
          size(col("toks")).cast("double").as("n_words"),
          size(col("toks")).cast("long").as("n_words_l"),
          TA.meanWordLenFromTokens(col("text"), col("toks")).as("mwl"),
          TA.punctRatio(col("text")).as("punct"),
          TA.stopwordRatioFromTokens(col("ltoks")).as("stop"),
          round(lit(1.0) - size(array_distinct(col("ltoks"))).cast("double")
            / size(col("ltoks")).cast("double"), 6).as("dup_frac"))
      val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
        lit(0.4) * abs(col("mwl") - lit(5.0)) +
        lit(0.15) * log(lit(1.0) + col("n_words"))
      val scored = f.select(
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"),
        (col("n_words_l") >= 50 && col("n_words_l") <= 100000 &&
          round(col("mwl"), 6) >= 3.0 && round(col("mwl"), 6) <= 10.0 &&
          round(col("stop"), 6) >= 0.02 &&
          col("dup_frac") <= 0.9).cast("long").as("label"))
      scored
        .withColumn("bin", least(floor(col("score") * 10), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("score")), 6).as("mean_score"),
          round(avg(col("label").cast("double")), 6).as("pos_rate"))
        .select(col("bin"), col("n"), col("mean_score"), col("pos_rate"),
          round(abs(col("mean_score") - col("pos_rate")), 6).as("gap"))
        .orderBy(col("bin"))
    }),

    // ---- TEMPERATURE-scaled language mixing: the multilingual-corpus
    //      sampling rule w_i ∝ share_i^α — α=1 is proportional (head
    //      languages dominate), α→0 is uniform (tail languages
    //      overfit); the 0.3/0.7 columns bracket the standard
    //      operating range, and boost_a07 is the head-suppression /
    //      tail-amplification factor a curator applies on top of the
    //      q140 budget or the q133 per-source sampler. Grouped by
    //      LANG, the axis the temperature rule exists for (the
    //      fixture's sources are exactly uniform — boost ≡ 1, a
    //      degenerate sweep). Since p_i^α/Σp_j^α = n_i^α/Σn_j^α, the
    //      whole query is one lang-cardinality-bounded aggregate + a
    //      one-row scalar broadcast — no corpus-sized anything ----
    "q152_temperature_mix" -> ((s, d) => {
      val n = Tables.documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val t = n.agg(sum(col("n_docs")).as("tot"),
        sum(pow(col("n_docs").cast("double"), lit(0.3))).as("z03"),
        sum(pow(col("n_docs").cast("double"), lit(0.7))).as("z07"))
      n.crossJoin(broadcast(t))
        .select(col("lang"), col("n_docs"),
          round(col("n_docs").cast("double") / col("tot"), 6).as("share"),
          round(pow(col("n_docs").cast("double"), lit(0.3)) / col("z03"), 6)
            .as("w_a03"),
          round(pow(col("n_docs").cast("double"), lit(0.7)) / col("z07"), 6)
            .as("w_a07"),
          round(pow(col("n_docs").cast("double"), lit(0.7)) / col("z07") /
            (col("n_docs").cast("double") / col("tot")), 6).as("boost_a07"))
        .orderBy(col("lang"))
    }),

    // ---- corpus DISTRIBUTION quantiles: exact per-source p25/p50/
    //      p75/p95 of doc length — the dataset-card distribution table
    //      — via the distributed-quantile-by-value-counts shape (q99's
    //      discipline): group to (source, n_chars) counts, one
    //      per-source window over DISTINCT values (bounded by length
    //      resolution, not corpus rows), then the R-7 interpolation
    //      v_lo + frac·(v_hi − v_lo) computed from the two covering
    //      rows per quantile. DuckDB's quantile_cont is the oracle, so
    //      green means the distributed form IS the textbook exact
    //      quantile — no approx_percentile divergence to explain.
    //      NEVER a corpus-sized sort: the only row-cardinality work is
    //      the (source, n_chars) group-by ----
    "q153_corpus_quantiles" -> ((s, d) => {
      sourceQuantiles(Tables.documents(s, d),
          Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))
        .select(col("source"), col("n_docs"), col("p25"), col("p50"),
          col("p75"), col("p95")).orderBy(col("source"))
    }),

    // ---- index centroid DRIFT monitor: the semantic-index companion
    //      to q145 (vocab drift) / q146 (occupancy skew) / q147
    //      (source mix): per IVF cell, the cosine distance between the
    //      base slice's member centroid and the delta slice's — the
    //      number that says the embedding DISTRIBUTION moved inside a
    //      cell even when occupancy looks stable, i.e. the coarse
    //      centroids no longer summarize the data (retrain trigger for
    //      q130's Lloyd step, upstream-encoder-change alarm). Member
    //      means are computed in code space (the index stores only
    //      int8 codes at scale — q94's posture); per-side cost is the
    //      quantizedIndex scan + a (cell, pos)-keyed aggregate bounded
    //      by 16·dim, and the drift join is 16·dim rows. Integer code
    //      sums are exact in doubles, so both engines agree bit-for-
    //      bit before the final round ----
    "q154_centroid_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def cellMeans(side: DataFrame): DataFrame =
        Similarity.quantizedIndex(side, "vec_id", "embedding")
          .select(col("cell"), posexplode(col("code")).as(Seq("pos", "v")))
          .groupBy(col("cell"), col("pos"))
          .agg(avg(col("v").cast("double")).as("m"), count(lit(1)).as("n"))
      val b = cellMeans(emb.filter(!isDeltaDoc(col("vec_id"))))
        .select(col("cell"), col("pos"), col("m").as("bm"), col("n").as("bn"))
      val dl = cellMeans(emb.filter(isDeltaDoc(col("vec_id"))))
        .select(col("cell"), col("pos"), col("m").as("dm"), col("n").as("dn"))
      b.join(dl, Seq("cell", "pos"), "full_outer")
        .groupBy(col("cell"))
        .agg(max(col("bn")).as("nb"), max(col("dn")).as("nd"),
          sum(col("bm") * col("dm")).as("bd"),
          sum(col("bm") * col("bm")).as("bb"),
          sum(col("dm") * col("dm")).as("dd"))
        .select(col("cell"),
          coalesce(col("nb"), lit(0L)).as("n_base"),
          coalesce(col("nd"), lit(0L)).as("n_delta"),
          when(col("bb") > 0 && col("dd") > 0,
            round(lit(1.0) - col("bd") / sqrt(col("bb") * col("dd")), 6))
            .as("drift"))
        .orderBy(col("cell"))
    }),

    // ---- RELEASE diff: q150's dataset card computed for the PREVIOUS
    //      release (the base slice) and the NEW release (base + delta
    //      ingested), emitted as (metric, base, new, delta) — the
    //      change-log table a corpus release publishes next to its
    //      card, and the last artifact of the monitoring layer
    //      (q145/q147 watch the delta arriving; this records what it
    //      did to the released numbers). The tokenizer is HELD FIXED
    //      across both sides (the full-corpus trained merge table, the
    //      deployment rule — you don't retrain the tokenizer per
    //      nightly ingest), so bpe_fertility drift is corpus drift,
    //      not tokenizer drift. Two bounded scans + one-row scalar
    //      joins; the diff join is 7×7 rows ----
    "q155_release_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val enc = bpeEncoded(s, d)
      val b = releaseCard(docs.filter(!isDeltaDoc(col("doc_id"))),
          enc.filter(!isDeltaDoc(col("doc_id"))))
        .select(col("metric"), col("value").as("base_value"))
      val n = releaseCard(docs, enc)
        .select(col("metric"), col("value").as("new_value"))
      b.join(n, Seq("metric"))
        .select(col("metric"),
          round(col("base_value"), 6).as("base_value"),
          round(col("new_value"), 6).as("new_value"),
          round(col("new_value") - col("base_value"), 6).as("delta"))
        .orderBy(col("metric"))
    }),

    // ---- asymmetric CONTAINMENT near-dup: the detector Jaccard-based
    //      families are blind to — a short doc QUOTED inside a longer
    //      one has tiny Jaccard (union is the long doc) but
    //      containment |A∩B|/|A| ≈ 1. Per LSH candidate pair: distinct
    //      char-8-gram counts, the intersection, Jaccard and BOTH
    //      directed containments; kept where either containment ≥ 0.5.
    //      Candidates-only discipline (q24's rule): the gram-set
    //      intersection runs per LSH pair, never per corpus pair.
    //      DIVERGENCE NOTE (documented, inherent): the MinHash
    //      candidate generator is itself Jaccard-biased, so a
    //      containment pass at production scale would band on the
    //      SHORT side's gram sample instead; the rescoring semantics
    //      gated here are identical either way ----
    "q156_containment_dedup" -> ((s, d) =>
      containmentPairs(s, d)
        .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"),
          col("cont_a"), col("cont_b"))
        .orderBy(col("a_id"), col("b_id"))),

    // ---- per-source tokenizer FERTILITY: q150's corpus-wide
    //      fertility row broken out by source — the tokenizer-equity
    //      table a multilingual release publishes (a source whose
    //      fertility is far above the corpus mean is under-served by
    //      the trained vocab: its docs cost more tokens per word, so
    //      a token-denominated budget like q140's silently
    //      down-samples it in DOCUMENTS even at equal token share).
    //      Memoized q122 encode + one source-bounded aggregate + the
    //      one-row corpus-total broadcast (q48's pattern) ----
    "q157_source_fertility" -> ((s, d) => {
      val enc = bpeEncoded(s, d)
      val t = enc.agg(sum(col("n_tokens")).as("tot"))
      enc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(t))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_tokens").cast("double") / col("tot"), 6)
            .as("token_share"))
        .orderBy(col("source"))
    }),

    // ---- INCREMENTAL containment: q156's asymmetric detector run in
    //      the nightly-ingest direction (q91's cross-side discipline):
    //      only delta×base candidate pairs survive — the question a
    //      corpus build actually asks ("is this incoming doc quoted
    //      from / quoting something we already hold?"), at per-ingest
    //      cost proportional to the delta's candidates. Gram sets join
    //      candidates-keyed (the base corpus is scanned, never
    //      re-paired with itself); same directed rescore and ≥ 0.5
    //      keep rule as q156 ----
    "q158_incremental_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sides = docs.select(col("doc_id"),
        when(isDeltaDoc(col("doc_id")), lit("delta"))
          .otherwise(lit("base")).as("side"))
      val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2)
        .join(sides.select(col("doc_id").as("a_id"), col("side").as("a_side")),
          Seq("a_id"))
        .join(sides.select(col("doc_id").as("b_id"), col("side").as("b_side")),
          Seq("b_id"))
        .filter(col("a_side") =!= col("b_side"))
        .select(
          when(col("a_side") === "delta", col("a_id")).otherwise(col("b_id"))
            .as("delta_id"),
          when(col("a_side") === "delta", col("b_id")).otherwise(col("a_id"))
            .as("base_id"))
      // containmentRescore prunes both sides to candidate ids before
      // any shingle work — the base side's per-ingest cost stays
      // delta-proportional
      containmentRescore(cand, "delta_id", "base_id",
          docs.filter(isDeltaDoc(col("doc_id"))),
          docs.filter(!isDeltaDoc(col("doc_id"))),
          "cont_delta", "cont_base")
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- distribution-trimmed corpus: the ACTION the q153 quantile
    //      table exists for — per-source robust outlier trim (keep
    //      docs with n_chars inside [p05, p95] of their own source's
    //      distribution; the standard defense against truncated crawl
    //      records and concatenation blowups, cut per SOURCE because a
    //      global cut would amputate legitimately-long sources).
    //      Shares sourceQuantiles with q153; the per-source cut table
    //      is source-cardinality-bounded and broadcast, so the trim
    //      itself is a scan-stage filter at any corpus size ----
    "q159_length_trim" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cuts = sourceQuantiles(docs, Seq(0.05 -> "lo_cut", 0.95 -> "hi_cut"))
        .select(col("source"), col("n_docs"), col("lo_cut"), col("hi_cut"))
      docs.join(broadcast(cuts), Seq("source"))
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"),
          count(when(col("n_chars") >= col("lo_cut") &&
            col("n_chars") <= col("hi_cut"), lit(1))).as("n_kept"),
          max(col("lo_cut")).as("lo_cut"), max(col("hi_cut")).as("hi_cut"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6)
            .as("keep_frac"),
          col("lo_cut"), col("hi_cut"))
        .orderBy(col("source"))
    }),

    // ---- temperature sampling APPLIED: q152 computes the α=0.7
    //      language weights; this turns them into the executable
    //      per-lang plan (q159's close-the-knob pattern, on the
    //      mixing axis) for a half-size target corpus: per lang, the
    //      target doc count want = w₀.₇·N/2, the keep rule
    //      (sample_frac = min(1, want/n) for downsample, epochs =
    //      ceil(want/n) for upsample — q140's emission convention),
    //      and the count actually kept by q119's deterministic
    //      md5-uniform draw u < sample_frac. Lang-bounded aggregates +
    //      one-row normalizer broadcast; the draw is scan-stage
    //      arithmetic ----
    "q161_temperature_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val t = n.agg(sum(col("n_docs")).as("tot"),
        sum(pow(col("n_docs").cast("double"), lit(0.7))).as("z07"))
      val plan = n.crossJoin(broadcast(t))
        .select(col("lang"), col("n_docs"),
          (pow(col("n_docs").cast("double"), lit(0.7)) / col("z07") *
            col("tot").cast("double") / lit(2.0)).as("want"))
        .select(col("lang"), col("n_docs"), col("want"),
          round(least(lit(1.0), col("want") / col("n_docs")), 6)
            .as("sample_frac"),
          ceil(round(col("want") / col("n_docs"), 6)).cast("long")
            .as("epochs"))
      val u = round(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("double") / lit(16777215.0), 6)
      val kept = docs.select(col("lang"), u.as("u"))
        .join(broadcast(plan.select(col("lang"), col("sample_frac"))),
          Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(when(col("u") < col("sample_frac"), lit(1))).as("n_kept"))
      plan.join(kept, Seq("lang"))
        .select(col("lang"), col("n_docs"),
          round(col("want"), 6).as("target_docs"),
          col("sample_frac"), col("epochs"), col("n_kept"))
        .orderBy(col("lang"))
    }),

    // ---- the RELEASE artifact a curation run ships: every document
    //      with a per-doc drop_reason composing ALL curation stages in
    //      a fixed precedence — held-out split, quality floor (q100's
    //      Gopher rules), decontamination (q59's held-gram overlap),
    //      then the FIVE dedup detector families (minhash / simhash /
    //      span / semantic from the PERSISTED drop-set artifact,
    //      containment from the persisted pair artifact — the
    //      containment drop rule keeps the containER and drops the
    //      containED side: the doc with the higher containment
    //      fraction, tie-broken to the larger id). Unlike q64 (which
    //      reports packed sequences over the survivors) this is the
    //      per-doc ledger: `kept` marks the training corpus, the rest
    //      carry WHY they were cut — the table a curation audit reads.
    //      Plan shape: the ledger is itself a persisted release
    //      artifact ([[v2ReleaseLedger]] — built once from one quality
    //      scan + one gram scan + doc_id-keyed joins against the three
    //      bounded persisted detector artifacts); this query and every
    //      downstream report SCAN it — no detector re-runs, no repeated
    //      corpus-wide passes ----
    "q162_curated_corpus" -> ((s, d) =>
      v2ReleaseLedger(s, d).orderBy(col("doc_id"))),

    // ---- the curation FUNNEL: q162's ledger rolled up to
    //      (source, drop_reason) — the dashboard table a curation run
    //      publishes next to the ledger ("what did each source lose,
    //      and to which stage"). doc AND word counts per cell plus the
    //      within-source doc share; source×reason-bounded (≤ 9 rows
    //      per source) at any corpus size ----
    "q169_curation_funnel" -> ((s, d) => {
      val led = v2ReleaseLedger(s, d)
      val f = led.groupBy(col("source"), col("drop_reason"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
      val st = f.groupBy(col("source")).agg(sum(col("n_docs")).as("src_docs"))
      f.join(st, Seq("source"))
        .select(col("source"), col("drop_reason"), col("n_docs"),
          col("n_words"),
          round(col("n_docs").cast("double") / col("src_docs"), 6)
            .as("doc_share"))
        .orderBy(col("source"), col("drop_reason"))
    }),

    // ---- drop-set artifact VERSIONING: q165's release-diff applied
    //      to the DETECTOR family — v1 = the base release's persisted
    //      drop sets, v2 = the current full-corpus artifact, diffed
    //      per detector with REAL per-row anti-joins on both sides.
    //      removed_docs gated = 0 is a theorem about the rules made
    //      checkable: all four detectors are MONOTONE in the data
    //      (pairs only accumulate; a span doc's n_kept only decreases
    //      as later releases steal owners), so a release can ship
    //      drop-set DELTAS. 4 rows at any corpus size ----
    "q170_dropset_diff" -> ((s, d) => {
      val v1 = v1DropsArtifact(s, d)
      val v2 = dedupDropSets(s, d)
      def summ(df: DataFrame, pre: String) = df.groupBy(col("det"))
        .agg(count(lit(1)).as(s"${pre}_docs"))
      val added = v2.join(v1, Seq("det", "doc_id"), "left_anti")
        .groupBy(col("det")).agg(count(lit(1)).as("added_docs"))
      val removed = v1.join(v2, Seq("det", "doc_id"), "left_anti")
        .groupBy(col("det")).agg(count(lit(1)).as("removed_docs"))
      summ(v2, "v2")
        .join(summ(v1, "v1"), Seq("det"), "left")
        .join(added, Seq("det"), "left")
        .join(removed, Seq("det"), "left")
        .select(col("det"),
          coalesce(col("v1_docs"), lit(0L)).as("v1_docs"),
          col("v2_docs"),
          coalesce(col("added_docs"), lit(0L)).as("added_docs"),
          coalesce(col("removed_docs"), lit(0L)).as("removed_docs"))
        .orderBy(col("det"))
    }),

    // ---- q153's distribution table split by DETECTED language
    //      (q26's n-gram langId, not the metadata column — the
    //      production case is exactly that the two disagree): exact
    //      per-(source, lang) length quantiles via the same
    //      value-count + R-7 interpolation shape, windows still
    //      bounded by DISTINCT lengths per key group. This is the
    //      table a per-language mixing recipe (q152/q161) reads when
    //      lengths differ by language within one source ----
    "q163_lang_quantiles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          TA.langIdFromTokens(TA.wsTokens(lower(col("text"))))
            .as("lang_guess"))
      sourceQuantiles(docs,
          Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75", 0.95 -> "p95"),
          Seq("source", "lang_guess"))
        .select(col("source"), col("lang_guess"), col("n_docs"),
          col("p25"), col("p50"), col("p75"), col("p95"))
        .orderBy(col("source"), col("lang_guess"))
    }),

    // ---- q157's tokenizer-fertility table split by DETECTED
    //      language: the per-language equity view a temperature-mix
    //      recipe needs — a language with fertility far above the
    //      corpus mean is silently down-weighted by token-denominated
    //      budgets even at equal doc share. Memoized q122 encode
    //      (scan, zero shuffles) + one doc_id-keyed join to the
    //      langId scan + a (source, lang)-bounded aggregate; the
    //      corpus-total divisor is q48's one-row broadcast scalar ----
    "q164_lang_fertility" -> ((s, d) => {
      val enc = bpeEncoded(s, d)
      val lang = Tables.documents(s, d)
        .select(col("doc_id"),
          TA.langIdFromTokens(TA.wsTokens(lower(col("text"))))
            .as("lang_guess"))
      val t = enc.agg(sum(col("n_tokens")).as("tot"))
      enc.join(lang, Seq("doc_id"))
        .groupBy(col("source"), col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(t))
        .select(col("source"), col("lang_guess"), col("n_docs"),
          col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_tokens").cast("double") / col("tot"), 6)
            .as("token_share"))
        .orderBy(col("source"), col("lang_guess"))
    }),

    // ---- temperature sampling denominated in TOKENS: q161 balances
    //      languages by DOC counts, but training budgets are spent in
    //      tokens (q140), and fertility differences (q164) make the
    //      two disagree — a lang whose docs are long or whose tokenizer
    //      is inefficient eats more budget than its doc share shows.
    //      Same α=0.7 / half-size-target recipe as q161 with token
    //      mass everywhere docs were: weights over per-lang token
    //      sums (memoized q122 encode), want in tokens, sample_frac =
    //      want/lang_tokens, kept docs AND kept tokens by the same
    //      deterministic md5 draw. Lang-bounded aggregates + one-row
    //      normalizer broadcast; the draw stays scan-stage ----
    "q166_token_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val enc = bpeEncoded(s, d).select(col("doc_id"), col("n_tokens"))
      val dl = docs.join(enc, Seq("doc_id"))
      val n = dl.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tk"))
      val t = n.agg(sum(col("tk")).as("tot"),
        sum(pow(col("tk").cast("double"), lit(0.7))).as("z07"))
      val plan = n.crossJoin(broadcast(t))
        .select(col("lang"), col("n_docs"), col("tk"),
          (pow(col("tk").cast("double"), lit(0.7)) / col("z07") *
            col("tot").cast("double") / lit(2.0)).as("want"))
        .select(col("lang"), col("n_docs"), col("tk"), col("want"),
          round(least(lit(1.0), col("want") / col("tk")), 6)
            .as("sample_frac"),
          ceil(round(col("want") / col("tk"), 6)).cast("long").as("epochs"))
      val u = round(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("double") / lit(16777215.0), 6)
      val kept = dl.select(col("lang"), col("n_tokens"), u.as("u"))
        .join(broadcast(plan.select(col("lang"), col("sample_frac"))),
          Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(when(col("u") < col("sample_frac"), lit(1))).as("n_kept"),
          sum(when(col("u") < col("sample_frac"), col("n_tokens"))
            .otherwise(lit(0L))).as("kept_tokens"))
      plan.join(kept, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("tk").as("n_tokens"),
          round(col("want"), 6).as("target_tokens"),
          col("sample_frac"), col("epochs"), col("n_kept"),
          col("kept_tokens"))
        .orderBy(col("lang"))
    }),

    // ---- release-ledger DIFF: the drop-reason transition matrix for
    //      the docs present in BOTH releases (v1 = base slice with its
    //      own build artifacts — the q95 signature table, v1 drop sets,
    //      v1 containment pairs; v2 = the full corpus with the current
    //      artifacts). Curation is NON-MONOTONE in the data: landing
    //      the delta changes verdicts on docs that didn't change — new
    //      duplicates arrive (kept→minhash/containment), the held-out
    //      split arrives with the delta slice (kept→decontaminated,
    //      by the md5 geometry: head-0 docs are all delta), while
    //      per-doc-stable reasons (quality) must sit on the diagonal.
    //      This is the release-QA table reviewers read before shipping
    //      v2: every off-diagonal cell is a doc whose fate the new
    //      data changed. Both ledgers evaluate the SAME factored rules
    //      (curatedLedger), so the matrix measures data movement, not
    //      rule drift; output is ≤ 9×9 rows at any corpus size ----
    "q167_ledger_diff" -> ((s, d) => {
      val v1 = v1ReleaseLedger(s, d)
      val v2 = v2ReleaseLedger(s, d)
      v1.select(col("doc_id"), col("drop_reason").as("reason_v1"))
        .join(v2.select(col("doc_id"), col("drop_reason").as("reason_v2")),
          Seq("doc_id"))
        .groupBy(col("reason_v1"), col("reason_v2"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("reason_v1"), col("reason_v2"))
    }),

    // ---- the v2 ledger MAINTAINED, never rebuilt: q162's release
    //      ledger computed from the v1 release's persisted artifacts
    //      (ledger, drop sets, containment pairs, signature/simhash/
    //      cell-index tables + their count artifacts, span owner +
    //      per-doc span-count tables) plus DELTA-proportional work
    //      only — cross candidates against each persisted index
    //      (q91/q123/q135/q158's ingest shapes), delta-internal
    //      candidates, span owner min-merge (q148's rule: n_kept(doc)
    //      = #keys whose min-(doc_id, span_idx) owner is doc, so the
    //      merged owner table IS the verdict input — a base doc LOSES
    //      kept-spans to smaller-id delta claims without its text ever
    //      being rescanned), quality from the v1 LEDGER for base docs
    //      (reason='quality' ⟺ fails the floor, recoverable because
    //      only empty-in-v1 'heldout' precedes it) + a fresh scan for
    //      delta docs. The ONE corpus-wide pass is decontamination:
    //      the held split arrives WITH the delta (md5 geometry), and
    //      screening old docs against a brand-new held set is
    //      inherently one scan (q59's broadcast shape; q84's Bloom is
    //      the degrade path). Gated by q162's OWN oracle — the
    //      one-oracle-pins-both proof (q91/q95/q115's pattern) that
    //      maintenance ≡ rebuild, the claim that lets a 100 TB release
    //      never re-run its detectors over the previous corpus.
    //      Documented family-standard divergence: caps evaluate on
    //      per-path bucket/cell sizes (never binding at fixture
    //      scales — ScaleLadderSpec). Body = ONE [[ledgerMaintainStep]]
    //      over the v1 bundle (round 12 factored the step out as a
    //      composable function; q171 chains it twice) ----
    "q168_ledger_incremental" -> ((s, d) => {
      drainStepCache()
      val docs = Tables.documents(s, d)
      ledgerMaintainStep(v1Artifacts(s, d),
        docs.filter(isDeltaDoc(col("doc_id"))),
        Tables.embeddings(s, d).filter(isDeltaDoc(col("vec_id"))),
        corpus = docs, priorDocs = docs.filter(!isDeltaDoc(col("doc_id"))),
        onPersist = stepOnPersist)
        .ledger.orderBy(col("doc_id"))
    }),

    // ---- CHAINED release maintenance (v1→v2→v3): q168 proves ONE
    //      [[ledgerMaintainStep]] equals a rebuild; this runs the SAME
    //      step function TWICE — the delta split into two consecutive
    //      ingests (q142's second-nibble sub-split), the intermediate
    //      v2 release MATERIALIZED as persisted parquet artifacts
    //      (exactly how a real intermediate release exists at 100 TB:
    //      on disk, not as live lineage), then step two maintains FROM
    //      those artifacts. Gated by q162's full-rebuild oracle over
    //      the final corpus: green = maintain∘maintain ≡ rebuild — the
    //      associativity that lets a corpus ship releases indefinitely
    //      without ever re-running detectors over a previous release.
    //      Why it composes: index artifacts append/min-merge
    //      (associative), detector drop sets are monotone unions over
    //      a pair set that decomposes exactly (Δ₁×base ∪ Δ₁×Δ₁ ∪
    //      Δ₂×(base∪Δ₁) ∪ Δ₂×Δ₂ = Δ×base ∪ Δ×Δ), per-pair verdicts
    //      are order-free (drop the larger id), quality recovery from
    //      the intermediate ledger is exact for every reason that can
    //      still change, and decontamination is recomputed against the
    //      final held set in the last step regardless of chain depth ----
    "q171_ledger_chain" -> ((s, d) => {
      drainStepCache()
      val tok = CoreQueries.dirToken(d)
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      def d1(c: Column) = isDeltaDoc(c) && isFirstIngest(c)
      def d2(c: Column) = isDeltaDoc(c) && !isFirstIngest(c)
      val v2 = maintainedArtifacts(s, s"graft_chainv2_$tok",
        v1Artifacts(s, d),
        docs.filter(d1(col("doc_id"))), emb.filter(d1(col("vec_id"))),
        corpus = docs.filter(!d2(col("doc_id"))),
        priorDocs = docs.filter(!isDeltaDoc(col("doc_id"))))
      ledgerMaintainStep(v2,
        docs.filter(d2(col("doc_id"))), emb.filter(d2(col("vec_id"))),
        corpus = docs, priorDocs = docs.filter(!d2(col("doc_id"))),
        onPersist = stepOnPersist)
        .ledger.orderBy(col("doc_id"))
    }),

    // ---- the MAINTAINED-corpus dataset card: q150/q155's 7-metric
    //      card computed over the kept set of the MAINTAINED v2 ledger
    //      ([[maintainedRelease]] — the persisted bundle q168's step
    //      ships, read back from parquet), not the rebuild's. The
    //      oracle derives its kept set from the full-rebuild ledger
    //      rule, so a green row re-gates maintained ≡ rebuilt AT THE
    //      REPORT LEVEL — the numbers a release actually publishes.
    //      Kept-set restriction is a doc_id-keyed left-semi join
    //      against the ledger scan (never a collect), so the card is
    //      two bounded aggregates over keyed-pruned scans at any
    //      corpus size ----
    "q172_maintained_card" -> ((s, d) => {
      val kept = maintainedRelease(s, d).ledger
        .filter(col("drop_reason") === "kept").select(col("doc_id"))
      releaseCard(
          Tables.documents(s, d).join(kept, Seq("doc_id"), "left_semi"),
          bpeEncoded(s, d).join(kept, Seq("doc_id"), "left_semi"))
        .select(col("metric"), round(col("value"), 6).as("value"))
        .orderBy(col("metric"))
    }),

    // ---- the MAINTAINED-corpus release DIFF: q155's (base, new,
    //      delta) card table where base = the v1 release's kept set
    //      (from its own persisted release-scoped ledger artifact,
    //      q167's v1 side) and new = the MAINTAINED v2 kept set
    //      (q172's bundle). This is the release note a maintenance
    //      cadence publishes: what one ingest did to the curated
    //      corpus, computed without ever rebuilding either release.
    //      Both oracle sides re-derive their kept sets from the full
    //      ledger rule (v1 = base-slice instance), so green pins both
    //      artifact paths against rebuild simultaneously ----
    "q173_maintained_diff" -> ((s, d) => {
      val enc = bpeEncoded(s, d)
      val docs = Tables.documents(s, d)
      def cardFor(led: DataFrame, as: String) = {
        val kept = led.filter(col("drop_reason") === "kept")
          .select(col("doc_id"))
        releaseCard(docs.join(kept, Seq("doc_id"), "left_semi"),
            enc.join(kept, Seq("doc_id"), "left_semi"))
          .select(col("metric"), col("value").as(as))
      }
      cardFor(v1ReleaseLedger(s, d), "base_value")
        .join(cardFor(maintainedRelease(s, d).ledger, "new_value"),
          Seq("metric"))
        .select(col("metric"),
          round(col("base_value"), 6).as("base_value"),
          round(col("new_value"), 6).as("new_value"),
          round(col("new_value") - col("base_value"), 6).as("delta"))
        .orderBy(col("metric"))
    }),

    // ---- the Bloom DEGRADE path inside the composed maintenance
    //      step: q168's body with bloomDecon = true — the
    //      decontamination pass runs q84's fixed-size-sketch prefilter
    //      + exact confirm instead of broadcasting the raw held-gram
    //      set. Results are EXACT by construction (the confirm join
    //      removes every false positive), so q162's unchanged
    //      full-rebuild oracle gates this path too: green proves the
    //      switch a 100 TB deployment flips when the held split
    //      outgrows the driver changes NOTHING about the shipped
    //      ledger ----
    "q174_ledger_bloom" -> ((s, d) => {
      drainStepCache()
      val docs = Tables.documents(s, d)
      ledgerMaintainStep(v1Artifacts(s, d),
        docs.filter(isDeltaDoc(col("doc_id"))),
        Tables.embeddings(s, d).filter(isDeltaDoc(col("vec_id"))),
        corpus = docs, priorDocs = docs.filter(!isDeltaDoc(col("doc_id"))),
        onPersist = stepOnPersist, bloomDecon = true)
        .ledger.orderBy(col("doc_id"))
    }),

    // ---- skew-engaged CAP REHEARSAL: every capped candidate
    //      generator's 10k hot-bucket valve has, by design, never
    //      fired on the organic fixtures (SCALE_LADDER.md: zero
    //      over-cap buckets at every sf). This query makes the cap
    //      ACTUALLY engage, oracle-gated: half the corpus (md5 head
    //      0-7) has its text replaced by one constant boilerplate
    //      string — the degenerate all-pages-share-a-template shape
    //      the cap exists for — so every band's boilerplate bucket
    //      holds ~n/2 docs and a cap of 100 drops it at every fixture
    //      scale. Output: per-band key count, max/over-cap bucket
    //      stats, capped vs uncapped pair counts. The oracle mirrors
    //      the cap EXACTLY (bucket-size anti-join before pairing), so
    //      green proves the capped regime — not just the uncapped
    //      no-op — matches the stated rule. 8 rows at any corpus
    //      size ----
    "q175_skew_cap_rehearsal" -> ((s, d) => {
      val buckets = skewedSig(s, d).groupBy(col("band"), col("minhash"))
        .agg(count(lit(1)).as("n"))
      // pair counts by bucket-size arithmetic (n·(n-1)/2 per bucket) —
      // value-identical to what the generator emits per band, and what
      // the DuckDB oracle mirrors without a 50M-row self-join; the
      // REAL capped generator (windowed cap + collect_list) is pinned
      // equal to capped_pairs by Wave13Spec
      buckets.groupBy(col("band").cast("long").as("band"))
        .agg(count(lit(1)).as("n_keys"),
          max(col("n")).as("max_bucket"),
          sum(when(col("n") > 100, 1L).otherwise(0L)).as("over_cap"),
          sum(when(col("n") <= 100, col("n") * (col("n") - 1))
            .otherwise(0L).cast("long")).as("cp2"),
          sum((col("n") * (col("n") - 1)).cast("long")).as("up2"))
        .select(col("band"), col("n_keys"), col("max_bucket"),
          col("over_cap"), (col("cp2") / 2).cast("long").as("capped_pairs"),
          (col("up2") / 2).cast("long").as("uncapped_pairs"))
        .orderBy(col("band"))
    }),

    // ---- the curation funnel on TWO keys: q169 generalized to
    //      (source, lang, drop_reason) — the per-language view a
    //      multilingual release publishes next to the per-source one
    //      (q163/q164's split axis applied to the funnel). Shares of
    //      docs within each (source, lang) cell; rolls up EXACTLY to
    //      q169 when summed over lang (Wave13Spec pins the identity).
    //      Still scans the one persisted v2 ledger artifact;
    //      (source × lang × reason)-bounded rows at any corpus size ----
    "q176_funnel_2key" -> ((s, d) => {
      val led = v2ReleaseLedger(s, d)
      val f = led.groupBy(col("source"), col("lang"), col("drop_reason"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
      val st = f.groupBy(col("source"), col("lang"))
        .agg(sum(col("n_docs")).as("cell_docs"))
      f.join(st, Seq("source", "lang"))
        .select(col("source"), col("lang"), col("drop_reason"),
          col("n_docs"), col("n_words"),
          round(col("n_docs").cast("double") / col("cell_docs"), 6)
            .as("doc_share"))
        .orderBy(col("source"), col("lang"), col("drop_reason"))
    }),

    // ---- decontamination by SPAN EXCISION: the production-realistic
    //      alternative to q59's whole-doc verdict (Lee et al. 2022
    //      remove the matching spans, not the document). A train-split
    //      token is excised iff ANY sliding word-8-gram window
    //      covering it matches a held-split gram; the doc survives
    //      with its leaked windows cut out. Per train doc: token
    //      count, tokens removed, kept fraction, and a 16-hex
    //      fingerprint of the rebuilt (normalized, space-joined)
    //      cleaned text — the fingerprint pins the exact rebuild
    //      without shipping document strings through the compare.
    //      Scale shape: held grams broadcast (bounded benchmark
    //      targets, q59's fence), leaked-window → position fan-out is
    //      8 rows per hit, the rebuild is q92's per-doc
    //      collect_list(struct(pos, tok)) — bounded by document
    //      length, never corpus-wide ----
    "q180_decontaminate_spans" -> ((s, d) =>
      spanExcision(s, d).orderBy(col("doc_id"))),

    // ---- STREAMING ledger maintenance: the release ledger's ingest
    //      loop, completing the family matrix (batch q162, incremental
    //      q168, chained q171, bloom q174, append-store q177 — and now
    //      the Structured Streaming shape every detector family
    //      already has: q115/q123/q135/q137/q144/q149/q160). The delta
    //      arrives as a 2-file stream (maxFilesPerTrigger=1 → one
    //      maintenance step per micro-batch); each foreachBatch
    //      applies [[ledgerMaintainStep]] against the bundle VERSION
    //      the previous batch persisted (batch 0 starts from the v1
    //      release artifacts) and writes the next 11-frame version —
    //      lineage never grows across batches because every prior is a
    //      parquet read-back. corpus/priorDocs per batch are keyed
    //      semi-joins on the ingested-id log (never a collect).
    //      Gated by q162's full-rebuild oracle over the LAST version's
    //      ledger: green = the stream lands the identical release,
    //      which is q171's associativity re-proven under streaming
    //      delivery with arbitrary (round-robin) batch membership ----
    "q179_stream_ledger" -> ((s, d) => {
      drainStepCache()
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val baseDocs = docs.filter(!isDeltaDoc(col("doc_id")))
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
      val in = CoreQueries.sharedInputDir(
        s"graft_q179_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(2).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q179_sledg_")
      val docsRoot = s"$dir/docs"; val bndRoot = s"$dir/bnd"
      val ck = s"$dir/ck"
      val names = Seq("sig", "sigcnt", "shsig", "shcnt", "cellidx",
        "cellcnt", "spanown", "spancnt", "drops", "pairs", "ledger")
      def frames(a: RelArtifacts) = Seq(a.sig, a.sigCnt, a.shSig,
        a.shCnt, a.cellIdx, a.cellCnt, a.spanOwn, a.spanCnt, a.drops,
        a.pairs, a.ledger)
      def readBundle(root: String): RelArtifacts = {
        def rd(n: String) = s.read.parquet(s"$root/$n")
        RelArtifacts(rd("sig"), rd("sigcnt"), rd("shsig"), rd("shcnt"),
          rd("cellidx"), rd("cellcnt"), rd("spanown"), rd("spancnt"),
          rd("drops"), rd("pairs"), rd("ledger"))
      }
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val batchDF = batch.toDF()
            graft.streaming.Streaming.writeBatch(
              batchDF.select(col("doc_id")), id, docsRoot, append = true)
            val ingested = s.read.parquet(docsRoot)
            val priorDocsB = baseDocs.unionByName(docs.join(
              ingested.filter(col("batch_id") < id).select(col("doc_id")),
              Seq("doc_id"), "left_semi"))
            val corpusB = baseDocs.unionByName(docs.join(
              ingested.filter(col("batch_id") <= id).select(col("doc_id")),
              Seq("doc_id"), "left_semi"))
            val prior = if (id == 0L) v1Artifacts(s, d)
              else readBundle(s"$bndRoot/batch_id=${id - 1}")
            var cached = List.empty[DataFrame]
            val next = ledgerMaintainStep(prior, batchDF,
              emb.join(batchDF.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi"),
              corpus = corpusB, priorDocs = priorDocsB,
              onPersist = f => cached ::= f)
            // eleven independent per-batch artifact writes — submit
            // concurrently (guide §2.6; VERDICT r18 #1, round 19)
            graft.util.ParallelWrite.run(
              names.zip(frames(next)).map { case (n, df) => () =>
                df.write.mode("overwrite")
                  .parquet(s"$bndRoot/batch_id=$id/$n") })
            cached.foreach(_.unpersist())
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // An empty delta slice produces zero batches: listFiles() on a
      // never-created root returns null and .max on an empty array
      // throws — fail with the actual configuration mistake instead.
      val batchIds = Option(new java.io.File(bndRoot).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .map(_.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
      require(batchIds.nonEmpty,
        s"q179: stream produced no versioned bundles under $bndRoot — " +
          "empty delta slice or misconfigured fixture")
      val lastId = batchIds.max
      s.read.parquet(s"$bndRoot/batch_id=$lastId/ledger")
        .orderBy(col("doc_id"))
    }),

    // ---- the IVF CELL-cap rehearsal: q175's embedding-family twin.
    //      Half the vectors replaced by one constant direction
    //      ([[skewedEmb]] — the embedding-collapse shape a dead
    //      encoder produces), so one argmax cell holds ~n/2 vectors
    //      and the rehearsal cap of 100 drops it at every fixture
    //      scale. Per-cell assignment counts (exactly what the
    //      semanticDedup cap windows on), over-cap flag, and capped vs
    //      uncapped candidate-pair arithmetic — all mirrored verbatim
    //      by the DuckDB oracle over the same inlined centroid
    //      constants. Wave13Spec pins the REAL machinery: hotCells
    //      flags the same cell, and semanticDedup with the cap engaged
    //      emits zero pairs from it while cap-off floods. 16 rows at
    //      any corpus size ----
    "q178_cell_cap_rehearsal" -> ((s, d) =>
      Similarity.hotCells(skewedEmb(s, d), "vec_id", "embedding",
          nCells = 16, cellCap = 0)
        .select(col("cell"), col("cell_size"),
          when(col("cell_size") > 100, 1L).otherwise(0L).as("over_cap"),
          when(col("cell_size") <= 100,
              (col("cell_size") * (col("cell_size") - 1) / 2).cast("long"))
            .otherwise(0L).as("capped_pairs"),
          (col("cell_size") * (col("cell_size") - 1) / 2).cast("long")
            .as("uncapped_pairs"))
        .orderBy(col("cell"))),

    // ---- DELTA-PROPORTIONAL artifact maintenance: the same single
    //      maintenance step as q168, but materialized through
    //      [[appendMaintainedArtifacts]] — prior release seeded
    //      verbatim, added rows APPENDED as new parquet files, span
    //      owners compacted on read, bounded count tables + the
    //      shipped ledger rewritten. Gated by q162's full-rebuild
    //      oracle over the ledger read back FROM the appended store:
    //      green closes the r12 scale note ("the materialize path is
    //      corpus-proportional") with the write path a 100 TB release
    //      cadence actually runs ----
    "q177_ledger_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      appendMaintainedArtifacts(s,
        s"graft_appv2_${CoreQueries.dirToken(d)}",
        v1Artifacts(s, d),
        docs.filter(isDeltaDoc(col("doc_id"))),
        Tables.embeddings(s, d).filter(isDeltaDoc(col("vec_id"))),
        corpus = docs, priorDocs = docs.filter(!isDeltaDoc(col("doc_id"))))
        .ledger.orderBy(col("doc_id"))
    }),

    // ---- artifact VERSIONING across releases: the signature table as
    //      a versioned build artifact. v1 = the base release's persisted
    //      signatures (the SAME parquet table the incremental family
    //      reads — q95's artifact, shared key); v2 = the next release,
    //      built by DELTA MAINTENANCE ONLY: v1 read back + the delta
    //      slice's signatures appended — base docs are never rescanned
    //      (signatures are per-doc, so append IS the correct
    //      maintenance, which is exactly why the artifact design works
    //      at 100 TB: a release never rebuilds what the last release
    //      computed). The gate: the oracle derives BOTH versions from a
    //      full recompute over `documents`, so a green row proves
    //      v2-by-maintenance ≡ v2-by-rebuild (the q141 invariant lifted
    //      from cluster labels to release artifacts), and removed_rows
    //      = 0 proves the maintenance is append-only — v1 rows survive
    //      into v2 verbatim (computed as a real per-row anti-join on
    //      both sides, not assumed). Per-band summary keeps the gated
    //      frame 8 rows at any corpus size ----
    "q165_artifact_versioning" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = v1SigArtifact(s, d)
      val v2Dir = CoreQueries.sharedInputDir(
        s"graft_q165_sigv2_${CoreQueries.dirToken(d)}") { p =>
        v1SigArtifact(s, d).unionByName(
          Dedup.bandedSignatures(docs.filter(isDeltaDoc(col("doc_id"))),
            "text", "doc_id", k = 8))
          .write.mode("overwrite").parquet(p)
      }
      val v2 = s.read.parquet(v2Dir)
      def summ(df: DataFrame, pre: String) = df.groupBy(col("band"))
        .agg(count(lit(1)).as(s"${pre}_rows"),
          countDistinct(col("doc_id")).as(s"${pre}_docs"))
      val sigKey = Seq("doc_id", "band", "minhash")
      val added = v2.join(v1, sigKey, "left_anti")
        .groupBy(col("band")).agg(count(lit(1)).as("added_rows"))
      val removed = v1.join(v2, sigKey, "left_anti")
        .groupBy(col("band")).agg(count(lit(1)).as("removed_rows"))
      summ(v2, "v2")
        .join(summ(v1, "v1"), Seq("band"), "left")
        .join(added, Seq("band"), "left")
        .join(removed, Seq("band"), "left")
        .select(col("band").cast("long").as("band"),
          coalesce(col("v1_rows"), lit(0L)).as("v1_rows"),
          coalesce(col("v1_docs"), lit(0L)).as("v1_docs"),
          col("v2_rows"), col("v2_docs"),
          coalesce(col("added_rows"), lit(0L)).as("added_rows"),
          coalesce(col("removed_rows"), lit(0L)).as("removed_rows"))
        .orderBy(col("band"))
    }),

    // ---- STREAMING containment — the containment family's streaming
    //      loop, making it the FIFTH detector family with the full
    //      batch (q156) / incremental (q158) / streaming (here)
    //      lifecycle: delta docs arrive as a 4-micro-batch file
    //      stream; each batch's banded signatures equi-join the
    //      PERSISTED base signature table (q95's artifact + count
    //      table — no base×base work, no corpus signature rescan),
    //      candidate pairs rescore with the directed containment
    //      against gram sets computed for exactly the candidate base
    //      docs, and flagged pairs append through the idempotent
    //      batch_id-partitioned K2 sink. Gated on the SAME oracle as
    //      q158 — the streaming path must be value-identical to the
    //      batch incremental path (q115/q91's proof pattern).
    //      (Divergence note, as q115: the bucket cap applies per
    //      base+batch bucket here vs the whole-corpus bucket in
    //      q156/q158 — identical below the cap.) ----
    // ---- FUZZY decontamination: the decon family's near-duplicate
    //      rung (exact 8-gram q59, Bloom degrade q84, span excision
    //      q180 — this adds paraphrase-tolerant matching). A train doc
    //      is flagged when it shares a MinHash LSH band with a held-out
    //      doc (q22's banded signature table, the SAME persisted
    //      corpus artifact every dedup consumer scans) AND the exact
    //      3-gram-Jaccard confirm on the 120-char prefixes clears 0.5
    //      (q24's rescore discipline — candidates only, never
    //      all-pairs). Output: each contaminated train doc with its
    //      best held witness (rounded-jac desc, low-id tie-break).
    //      Scale: candidate generation is the capped bucket join;
    //      the confirm join carries 120-char prefixes keyed by doc id;
    //      the held split never needs to broadcast ----
    "q181_fuzzy_decon" -> ((s, d) =>
      fuzzyContamination(s, d).orderBy(col("doc_id"))),

    // ---- SEMANTIC decontamination: the embedding-space rung of the
    //      same family — a train vector is contaminated when a held
    //      vector sits within cosine τ, even with ZERO lexical overlap
    //      (the leak n-gram methods cannot see: translations,
    //      paraphrases, re-renderings). semanticDedup's IVF-cell-
    //      bounded pair discipline with the join oriented across the
    //      held split; cell cap + zero-norm rules computed over both
    //      sides together so this and the dedup family share one
    //      degenerate-cell story. τ = 0.4, q86's operating point ----
    "q182_semantic_decon" -> ((s, d) =>
      Similarity.semanticContamination(Tables.embeddings(s, d),
          "vec_id", "embedding",
          idc => substring(md5(idc.cast("string")), 1, 1) === "0", tau = 0.4)
        .orderBy(col("vec_id"))),

    // ---- the ANISOTROPY audit: per-subspace share of corpus variance
    //      under the IDENTITY PQ layout on the anisotropic rehearsal
    //      slice ([[anisoEmb]]) — the evidence row that subspace 0
    //      carries ~16× the energy of its peers, i.e. the fixture
    //      REALLY is anisotropic and q184's layout choice has
    //      something to optimize (the r11/r12 standing skip's
    //      precondition, now measured instead of assumed). Built from
    //      the memoized 64-double variance artifact; 8 rows at any
    //      corpus size ----
    "q183_aniso_audit" -> ((s, d) => {
      import s.implicits._
      val (vars, _) = opqVarLayout(s, d)
      val total = vars.sum
      (0 until 8).map { sub =>
        (sub.toLong, vars.slice(sub * 8, sub * 8 + 8).sum) }
        .toDF("sub", "var_sum")
        .select(col("sub"), round(col("var_sum"), 6).as("var_sum"),
          round(col("var_sum") / lit(total), 6).as("share"))
        .orderBy(col("sub"))
    }),

    // ---- OPQ-lite: variance-balanced PQ layout vs identity, gated.
    //      The r11/r12 standing skip, landed now that the anisotropic
    //      rehearsal (q183) exists: rank dims by corpus variance,
    //      snake-deal them across the 8 subspaces
    //      ([[Similarity.balancedLayout]] — Ge et al.'s eigenvalue-
    //      allocation idea without the eigendecomposition, so the
    //      oracle re-derives the ENTIRE loop in SQL: variances →
    //      ranks → layout → encode → Lloyd step → MSE), train each
    //      layout one Lloyd step from the shared static init, and
    //      report per-subspace corpus MSE under both trained
    //      codebooks. The balanced layout's total MSE must beat
    //      identity (Wave13Spec pins it); per-subspace rows show WHY —
    //      identity's sub-0 distortion dwarfs the rest, balanced
    //      spreads it. Pure scan-stage work: codebooks are inlined
    //      literal artifacts, no join anywhere; 16 rows at any
    //      corpus size ----
    "q184_opq_gain" -> ((s, d) => {
      val (_, balanced) = opqVarLayout(s, d)
      val identity: Seq[Int] = 0 until 64
      val aniso = anisoEmb(s, d)
      def side(name: String, perm: Seq[Int]) =
        Similarity.pqPermMse(aniso, "vec_id", "vec", perm,
            opqRefined(s, d, name, perm))
          .select(lit(name).as("layout"), col("sub"), col("n_vecs"), col("mse"))
      side("identity", identity).unionByName(side("balanced", balanced))
        .orderBy(col("layout"), col("sub"))
    }),

    // ---- DSIR data selection (Xie et al. 2023, "Data Selection for
    //      Language Models via Importance Resampling" — the hashed
    //      n-gram variant): score every candidate doc by how much its
    //      hashed-BIGRAM profile looks like a TARGET domain (src0's
    //      docs — the fixture's sources have genuinely distinct token
    //      distributions) vs the raw pool, then keep the top quintile.
    //      Features: word bigrams hashed into 128 buckets (md5-derived,
    //      the family's determinism rule); per-bucket add-1-smoothed
    //      log-likelihood ratio ln(p_target/p_raw), ROUNDED at 6 in
    //      the 128-row table (the inlined-artifact contract — per-term
    //      identical across engines, so the per-doc sums agree at the
    //      output rounding); per-doc weight = Σ occurrences · llr;
    //      selection cut = exact p80 of the weights (R-7, the q153
    //      helper over the weight column — a CUTOFF, not a global
    //      rank: corpus-proportional top-k would need a total order,
    //      the quantile needs one distinct-value-counts aggregate).
    //      Scale: the llr table is ≤128 rows (broadcast by
    //      construction), the cut is a one-row scalar crossJoin
    //      (q150's fenced pattern), everything else is doc_id/bucket-
    //      keyed ----
    "q185_dsir_selection" -> ((s, d) => {
      val occ = dsirBigrams(Tables.documents(s, d))
      val llr = dsirLlr(occ)
      val dw = dsirWeights(occ.filter(col("source") =!= "src0"), llr)
      val cut = sourceQuantiles(
        dw.select(lit("all").as("source"), col("log_w")),
        Seq(0.8 -> "cut"), valueCol = "log_w")
        .select(col("cut"))
      dw.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("n_bigrams"), col("log_w"),
          when(col("log_w") >= col("cut"), 1).otherwise(0)
            .cast("int").as("selected"))
        .orderBy(col("doc_id"))
    }),

    // ---- DSIR at INGEST: the frozen-model shape a release actually
    //      runs (train the importance model ONCE on the release's
    //      base corpus, then score every newly crawled batch against
    //      it) — q185's model (128-bucket smoothed llr, src0 target)
    //      trained on the BASE slice only, its p80 cut derived from
    //      the base candidates' weights, then APPLIED UNCHANGED to the
    //      delta ingest. A delta doc is kept iff its weight clears
    //      the release's frozen threshold — no retraining, no cut
    //      drift, the exact frozen-scorer deployment. Same fenced
    //      shapes as q185 (≤128-row llr broadcast, one-row cut
    //      crossJoin); scoring the ingest costs |delta| bigram work ----
    "q193_dsir_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val occBase = dsirBigrams(docs.filter(!isDeltaDoc(col("doc_id"))))
      val llr = dsirLlr(occBase)
      val baseW = dsirWeights(occBase.filter(col("source") =!= "src0"), llr)
      val cut = sourceQuantiles(
        baseW.select(lit("all").as("source"), col("log_w")),
        Seq(0.8 -> "cut"), valueCol = "log_w")
        .select(col("cut"))
      val deltaW = dsirWeights(
        dsirBigrams(docs.filter(isDeltaDoc(col("doc_id"))))
          .filter(col("source") =!= "src0"), llr)
      deltaW.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("n_bigrams"), col("log_w"),
          when(col("log_w") >= col("cut"), 1).otherwise(0)
            .cast("int").as("selected"))
        .orderBy(col("doc_id"))
    }),

    // ---- packing PURITY: the attention-contamination report for the
    //      q192 layout — a fixed 512-token sequence is "mixed" when
    //      tokens from two or more documents share it (they attend
    //      across document boundaries during training unless the
    //      loader masks); per source: total sequences, mixed/pure
    //      counts, pure fraction, and how many docs straddle a
    //      boundary. Derived from the manifest alone: each doc fans
    //      out to its seq_first..seq_last range (bounded by
    //      doc_len/512 + 1), one (source, seq) aggregate ----
    "q194_pack_purity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val manifest = docs
        .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"),
          expr("off div 512").as("seq_first"),
          expr("(off + n_tokens - 1) div 512").as("seq_last"))
      val seqDocs = manifest
        .select(col("source"),
          explode(sequence(col("seq_first"), col("seq_last"))).as("seq"))
        .groupBy(col("source"), col("seq"))
        .agg(count(lit(1)).as("n_docs"))
      val spanning = manifest
        .groupBy(col("source"))
        .agg(sum(when(col("seq_last") > col("seq_first"), 1L).otherwise(0L))
          .as("n_spanning_docs"))
      seqDocs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_seqs"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_mixed"),
          sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("n_pure"))
        .join(spanning, Seq("source"))
        .select(col("source"), col("n_seqs"), col("n_pure"), col("n_mixed"),
          round(col("n_pure").cast("double") / col("n_seqs"), 6)
            .as("pure_frac"),
          col("n_spanning_docs"))
        .orderBy(col("source"))
    }),

    // ---- heavy-hitter detection, sketch-first: the 100 TB shape of
    //      "find the hot keys" (the decision input for the skew caps
    //      and salting the SCALE_LADDER documents). Domain: word-8-
    //      gram hashes over the boilerplate-STAMPED corpus (q175's
    //      rehearsal fixture) — each boilerplate gram lands in ~half
    //      the docs (~1.4 % of the gram stream) against a ~0.015 %-max
    //      organic background and a ~23 k-key universe, so the k=128
    //      Misra–Gries sketch ACTUALLY evicts (unlike the 31-token
    //      word vocab, where any reasonable k would just hold the
    //      dictionary). Two-pass discipline: the mergeable MG sketch
    //      (etl.Aggregators.MisraGries — guarantee: every key with
    //      share > 1/129 survives any merge order) emits ≤128
    //      candidates; an exact second pass re-scores ONLY those keys
    //      and keeps share ≥ 1 % — so the output equals the exact
    //      heavy-hitter set deterministically while no corpus-wide
    //      exact count ever shuffles more than 128 keys. Driver
    //      artifacts: the candidate list (≤128 strings) and the
    //      stream length (one long) — the bounded-collect fence ----
    "q186_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      drainStepCache()
      // three consumers (sketch, stream length, exact re-score) of the
      // exploded gram stream; cached for the query's own actions and
      // registered so the next maintenance-class build drains it
      val grams = graft.util.Persist(gramStream(stampedDocs(s, d)))
      stepOnPersist(grams)
      val sketch = grams.select(col("gh")).as[String]
        .select(graft.etl.Aggregators.MisraGries(128).toColumn)
        .collect()(0).keys.toSeq.sorted
      val n = grams.count()
      grams.filter(col("gh").isin(sketch: _*))
        .groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 100 >= lit(n))
        .select(col("gh"), col("cnt"),
          round(col("cnt").cast("double") / lit(n.toDouble), 6).as("share"))
        .orderBy(col("gh"))
    }),

    // ---- histogram quantile SKETCH vs exact: the mergeable rung of
    //      the quantile family (q153's exact R-7 ladder). Per source:
    //      a 256-equal-width-bin histogram of n_chars (bin ids in
    //      INTEGER arithmetic — ((x−lo)·256) div (hi−lo), exact in
    //      both engines), the p50/p95 estimated by uniform-within-bin
    //      interpolation at the R-7 rank, and the exact quantiles next
    //      to them with the absolute error. The sketch is two map-
    //      side-combinable aggregates (min/max pass + bin-count pass,
    //      256 longs per source) where the exact ladder needs the
    //      per-(source, value) distinct-counts shuffle — the trade a
    //      100 TB monitoring wall actually makes; the error bound
    //      (≤ 1 bin width — within-bin interpolation of both order
    //      statistics, gated by Wave14Spec) is what makes the cheap
    //      path trustworthy ----
    "q187_hist_quantiles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bounds = docs.groupBy(col("source"))
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      histReport(docs, histBinCounts(docs, bounds))
    }),

    // ---- decontamination REMEDY-COST report: the decision table the
    //      decon family feeds a release manager — for each remedy,
    //      what it costs the corpus. exact_drop (q59's verdict: any
    //      shared held 8-gram kills the doc), span_excise (q180: only
    //      the leaked windows are cut; docs_affected is IDENTICAL to
    //      exact_drop by construction — same detector, different
    //      remedy — and tokens_removed is a fraction of it), and
    //      fuzzy_drop (q181's paraphrase verdict). Three bounded rows
    //      composed from the already-gated pipelines; the token
    //      denominators are one aggregate over the train split ----
    "q188_decon_cost" -> ((s, d) => {
      // spanExcision drains the step cache at entry — build it FIRST
      // so this query's own registered frames survive its drain
      val span = spanExcision(s, d)
      val trainToks = Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) =!= "0")
        .select(col("doc_id"), size(TA.normWords(col("text")))
          .cast("long").as("n_tokens"))
      val total = graft.util.Persist(
        trainToks.agg(sum(col("n_tokens")).as("t")))
      stepOnPersist(total)
      def row(method: String, flagged: DataFrame, dropped: DataFrame,
          removed: Column) =
        flagged.agg(count(lit(1)).as("docs_affected")).crossJoin(
            dropped.agg(count(lit(1)).as("docs_dropped"))).crossJoin(
            flagged.agg(coalesce(removed, lit(0L)).as("tokens_removed")))
          .crossJoin(total)
          .select(lit(method).as("method"), col("docs_affected"),
            col("docs_dropped"), col("tokens_removed"),
            round(col("tokens_removed").cast("double") / col("t"), 6)
              .as("tokens_frac"))
      // q59's verdict chain inlined (shared splitGrams, same split):
      // flagged = train docs sharing ANY distinct 8-gram with held
      val grams59 = splitGrams(s, d)
      val held59 = grams59.filter(col("hb") === "0")
        .select(col("gh")).distinct()
      val exactFlag = grams59.filter(col("hb") =!= "0")
        .join(broadcast(held59), Seq("gh"))
        .select(col("doc_id")).distinct()
        .join(trainToks, Seq("doc_id"))
      val spanFlag = span.filter(col("n_removed") > 0)
      val fuzzyFlag = fuzzyContamination(s, d)
        .select(col("doc_id")).join(trainToks, Seq("doc_id"))
      row("exact_drop", exactFlag, exactFlag, sum(col("n_tokens")))
        .unionByName(row("fuzzy_drop", fuzzyFlag, fuzzyFlag,
          sum(col("n_tokens"))))
        .unionByName(row("span_excise", spanFlag,
          spanFlag.filter(col("n_removed") === col("n_tokens")),
          sum(col("n_removed"))))
        .orderBy(col("method"))
    }),

    // ---- STREAMING histogram maintenance: the q187 sketch kept
    //      current incrementally, the monitoring wall's ingest shape.
    //      Boundaries are RELEASE-FIXED from the base slice (part of
    //      the persisted sketch artifact — a streaming sketch cannot
    //      know the global min/max, so delta values clamp into the end
    //      bins; q187's clamp rule, now load-bearing); the base bin
    //      counts batch-build once as a parquet artifact; delta docs
    //      arrive as a 2-micro-batch file stream and each batch
    //      appends its OWN (source, bin, cnt) rows through the
    //      idempotent batch_id-partitioned K2 sink — the sketch is
    //      mergeable BY CONSTRUCTION (counts are sums), so maintenance
    //      costs |batch| binning work, never a corpus rescan. The
    //      final report re-derives p50/p95 from the merged counts next
    //      to the exact full-corpus quantiles — same discipline as
    //      every incremental family: the stream must land the exact
    //      report a full rebuild under the same boundaries lands ----
    "q189_stream_histogram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseDocs = docs.filter(!isDeltaDoc(col("doc_id")))
      val boundsDir = CoreQueries.sharedInputDir(
        s"graft_q189_bounds_${CoreQueries.dirToken(d)}") { p =>
        baseDocs.groupBy(col("source"))
          .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
          .write.mode("overwrite").parquet(p)
      }
      val bounds = s.read.parquet(boundsDir)
      val baseSketchDir = CoreQueries.sharedInputDir(
        s"graft_q189_base_${CoreQueries.dirToken(d)}") { p =>
        histBinCounts(baseDocs, bounds).write.mode("overwrite").parquet(p)
      }
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q189_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(2).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q189_hist_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            graft.streaming.Streaming.writeBatch(
              histBinCounts(batch.toDF(), bounds), id, out, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val merged = s.read.parquet(out)
        .select(col("source"), col("lo"), col("hi"), col("bin"), col("cnt"))
        .unionByName(s.read.parquet(baseSketchDir))
        .groupBy(col("source"), col("lo"), col("hi"), col("bin"))
        .agg(sum(col("cnt")).as("cnt"))
      histReport(docs, merged)
    }),

    // ---- STREAMING heavy-hitter maintenance: q186's two-pass
    //      discipline with the SKETCH side incremental — the base
    //      corpus's Misra–Gries counters persist as a (gh, est)
    //      parquet artifact, each delta micro-batch writes its own
    //      batch-local sketch (≤k rows each, the only state that ever
    //      moves), and the merged candidate set comes from the
    //      mergeable-summaries merge of all persisted sketches. The
    //      exact re-score then runs over base ∪ delta and keeps share
    //      ≥ 1 % — the guarantee (every key with true share > 1/(k+1)
    //      survives ANY merge order, including this
    //      base-then-batches one) makes the output EQUAL q186's
    //      batch result: the oracle IS q186's oracle, verbatim ----
    "q190_stream_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      drainStepCache()
      val mg = graft.etl.Aggregators.MisraGries(128)
      val docs = stampedDocs(s, d)
      val baseDir = CoreQueries.sharedInputDir(
        s"graft_q190_base_${CoreQueries.dirToken(d)}") { p =>
        val m = gramStream(docs.filter(!isDeltaDoc(col("doc_id"))))
          .select(col("gh")).as[String].select(mg.toColumn).collect()(0)
        m.toSeq.toDF("gh", "est").write.mode("overwrite").parquet(p)
      }
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q190_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(2).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q190_hh_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val bs = batch.sparkSession
            import bs.implicits._
            val m = gramStream(batch.toDF())
              .select(col("gh")).as[String].select(mg.toColumn).collect()(0)
            graft.streaming.Streaming.writeBatch(
              m.toSeq.toDF("gh", "est"), id, out, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // mergeable-summaries merge of the persisted sketches (each a
      // ≤k-row artifact; the driver-side fold is the bounded collect)
      val sketches: Seq[Map[String, Long]] =
        s.read.parquet(out).select(col("batch_id"), col("gh"), col("est"))
          .collect().groupBy(_.getInt(0))
          .map { case (id, rows) =>
            id -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }
          .toSeq.sortBy(_._1).map(_._2) :+
        s.read.parquet(baseDir).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val cands = sketches.reduce(mg.merge).keys.toSeq.sorted
      val grams = graft.util.Persist(gramStream(docs))
      stepOnPersist(grams)
      val n = grams.count()
      grams.filter(col("gh").isin(cands: _*))
        .groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 100 >= lit(n))
        .select(col("gh"), col("cnt"),
          round(col("cnt").cast("double") / lit(n.toDouble), 6).as("share"))
        .orderBy(col("gh"))
    }),

    // ---- PSI drift monitor: the monitoring wall's distribution-
    //      shift number (population stability index, the standard
    //      production drift metric) for n_chars per source between
    //      the base slice and the delta ingest — the scalar that says
    //      "this source's length distribution moved" before any
    //      downstream quality/dedup rate does. 16 equal-width bins
    //      under base-slice boundaries (q189's release-fixed rule,
    //      clamped), add-1-smoothed bin shares on BOTH sides (q185's
    //      smoothing discipline, so empty bins and delta-less sources
    //      stay finite), psi = Σ (p_delta − p_base)·ln(p_delta/
    //      p_base). The 16-bin spine is generated per source in the
    //      scan (explode, not a join); everything else is two bounded
    //      aggregates over the sketch rows ----
    "q191_psi_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(!isDeltaDoc(col("doc_id")))
      val bounds = base.groupBy(col("source"))
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      def bins(df: DataFrame) = df.join(broadcast(bounds), Seq("source"))
        .select(col("source"),
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(greatest(
              least(expr("((n_chars - lo) * 16) div (hi - lo)"), lit(15L)),
              lit(0L))).as("bin"))
        .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cnt"))
      val spine = docs.select(col("source")).distinct()
        .select(col("source"), explode(sequence(lit(0L), lit(15L))).as("bin"))
      val wSrc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      spine
        .join(bins(base).withColumnRenamed("cnt", "cb"),
          Seq("source", "bin"), "left")
        .join(bins(docs.filter(isDeltaDoc(col("doc_id"))))
          .withColumnRenamed("cnt", "cd"), Seq("source", "bin"), "left")
        .select(col("source"), col("bin"),
          coalesce(col("cb"), lit(0L)).as("cb"),
          coalesce(col("cd"), lit(0L)).as("cd"))
        .withColumn("nb", sum(col("cb")).over(wSrc))
        .withColumn("nd", sum(col("cd")).over(wSrc))
        .withColumn("pb", (col("cb") + 1.0) / (col("nb") + 16.0))
        .withColumn("pd", (col("cd") + 1.0) / (col("nd") + 16.0))
        .groupBy(col("source"))
        .agg(max(col("nb")).as("n_base"), max(col("nd")).as("n_delta"),
          round(sum((col("pd") - col("pb")) * log(col("pd") / col("pb"))), 6)
            .as("psi"))
        .orderBy(col("source"))
    }),

    // ---- concat-and-chunk sequence packing: the GPT-style packing a
    //      training loader actually runs — per source shard, docs are
    //      concatenated in deterministic doc_id order and the token
    //      stream is cut into fixed 512-token sequences, documents
    //      SPANNING boundaries (q61 packs whole docs under a budget;
    //      this is the other standard layout, where nothing is padded
    //      and every boundary doc is split). Per doc: its first/last
    //      sequence index and offset within its first sequence — the
    //      manifest a packed-shard reader needs to locate any doc.
    //      One running-total window per source shard (q61's shape);
    //      all arithmetic in integer space ----
    "q192_concat_chunk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("off div 512").as("seq_first"),
          expr("(off + n_tokens - 1) div 512").as("seq_last"),
          pmod(col("off"), lit(512L)).as("offset_in_seq"))
        .orderBy(col("doc_id"))
    }),

    "q160_stream_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseDocs = docs.filter(!isDeltaDoc(col("doc_id")))
      val baseSig = v1SigArtifact(s, d)
      val baseCnt = sigCountArtifact(s,
        s"graft_q95cnt_${CoreQueries.dirToken(d)}", baseSig)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q160_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q160_scont_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            // capture the batch's cached candidate frame and drop it
            // once the append action completes (ADVICE r10: without
            // this, one cached frame per micro-batch accumulates
            // across batches and repeated bench runs in one session)
            var cached: Option[DataFrame] = None
            try graft.streaming.Streaming.writeBatch(
              streamBatchContainment(batch.toDF(), baseSig, baseDocs,
                baseCounts = Some(baseCnt),
                onPersist = f => cached = Some(f)), id, out, append = true)
            finally cached.foreach(_.unpersist())
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("delta_id"), col("base_id"), col("n_common"),
          col("jaccard"), col("cont_delta"), col("cont_base"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- boundary-respecting sequence packing: the packer q194's
    //      purity report motivates — greedy first-fit-decreasing over
    //      whole docs ([[ffdPack]]), so NO doc ever straddles a
    //      sequence boundary (q192 splits every boundary doc; q61
    //      overflows the budget instead of closing the sequence).
    //      Manifest per doc: its single sequence, offset within it,
    //      tokens kept, and truncation loss (docs over the 512 budget
    //      take one full sequence — the truncate-or-new-sequence
    //      rule). The oracle replays the fold verbatim as a recursive
    //      CTE over the same (capped DESC, doc_id) order ----
    "q195_pack_ffd" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      ffdPack(docs).orderBy(col("doc_id"))
    }),

    // ---- the packing-layout decision table: per source, what q192's
    //      concat-and-chunk costs vs what the FFD packer costs —
    //      sequences, pad waste (chunking pads only the final partial
    //      sequence; FFD pays a remainder per OPEN sequence), FFD's
    //      truncation loss (chunking never truncates), and the
    //      boundary-spanning doc counts (the attention-contamination
    //      currency of q194: chunking splits every boundary doc, FFD
    //      splits NONE — computed from both manifests, not asserted).
    //      Two bounded per-source aggregates over the two manifests ----
    "q196_pack_compare" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // two consumers (the chunking window and the FFD fold) of the
      // tokenized frame — persist so the doc scan + tokenization runs
      // once (q64's policy switch applies at corpus scale)
      val docs = graft.util.Persist(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cc = docs
        .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("source"), col("n_tokens"),
          expr(s"off div $packBudget").as("seq_first"),
          expr(s"(off + n_tokens - 1) div $packBudget").as("seq_last"))
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("seq_last") > col("seq_first"), 1L).otherwise(0L))
            .as("cc_n_spanning"))
        .select(col("source"), col("total_tokens"),
          expr(s"(total_tokens + ${packBudget - 1}) div $packBudget")
            .as("cc_n_seqs"),
          (expr(s"(total_tokens + ${packBudget - 1}) div $packBudget")
            * packBudget - col("total_tokens")).as("cc_waste"),
          col("cc_n_spanning"))
      val ffd = ffdPack(docs)
        .groupBy(col("source"))
        .agg(countDistinct(col("seq_id")).as("ffd_n_seqs"),
          sum(col("n_kept")).as("kept"),
          sum(col("n_dropped")).as("ffd_waste_trunc"),
          sum(when(col("offset_in_seq") + col("n_kept") > packBudget, 1L)
            .otherwise(0L)).as("ffd_n_spanning"))
        .select(col("source"), col("ffd_n_seqs"),
          (col("ffd_n_seqs") * packBudget - col("kept")).as("ffd_waste_pad"),
          col("ffd_waste_trunc"), col("ffd_n_spanning"))
      cc.join(ffd, Seq("source"))
        .select(col("source"), col("total_tokens"),
          col("cc_n_seqs"), col("cc_waste"), col("cc_n_spanning"),
          col("ffd_n_seqs"), col("ffd_waste_pad"), col("ffd_waste_trunc"),
          col("ffd_n_spanning"))
        .orderBy(col("source"))
    }),

    // ---- OPQ deployed-recall twin (q136's discipline applied to
    //      q184): the MSE gain only matters if it moves the RANKING a
    //      deployed ADC scan produces, so measure recall@3 against the
    //      same fenced exact-IP truth side under BOTH layouts — the
    //      identity slice layout and the variance-balanced snake deal
    //      — each with its own one-Lloyd-step codebook (the q184
    //      training artifacts, inlined literals). The coarse IVF stage
    //      reads the FULL vector, so candidate sets are identical
    //      across layouts: any recall delta is pure quantization
    //      effect, never routing luck. Wave15Spec pins the aggregate
    //      ordering ----
    "q197_opq_recall" -> ((s, d) => {
      val (_, balanced) = opqVarLayout(s, d)
      val identity: Seq[Int] = 0 until 64
      val aniso = anisoEmb(s, d)
      val q = aniso.filter(col("vec_id") < 50)
      // BOTH layout branches of the union join against the truth side —
      // persist it so the fenced 50×corpus exact-IP ranking (the row's
      // dominant scan) runs once, not once per branch
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, aniso, "vec_id", "vec", k = 3)
          .select(col("q_id"), col("n_id")))
      def side(name: String, perm: Seq[Int]) = {
        val cb = opqRefined(s, d, name, perm).groupBy(_._1)
          .map { case (sub, xs) => sub -> xs.sortBy(_._2).map(_._3) }
        val approx = Similarity.pqAdcTopKWithPerm(q, aniso, "vec_id", "vec",
            k = 3, cb, perm)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(approx,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("a_n")).as("n_hits"))
          .select(lit(name).as("layout"), col("q_id"), col("n_hits"),
            round(col("n_hits").cast("double") / lit(3.0), 6).as("recall_at_3"))
      }
      side("identity", identity).unionByName(side("balanced", balanced))
        .orderBy(col("layout"), col("q_id"))
    }),

    // ---- the DSIR retrain trigger: WHEN does the frozen scorer
    //      (q193) go stale? Monitor the frozen-cut keep DECISION as a
    //      two-bucket distribution (kept/dropped per candidate source)
    //      and PSI it between the base slice the model was trained on
    //      and the delta ingest it now scores (q191's drift currency
    //      applied to the selector's own output — the standard
    //      "monitor the score distribution, not the features" rule).
    //      PSI ≥ 0.1 (the conventional drift threshold) flags the
    //      source for scorer retraining. Composes q193's frames: the
    //      ≤128-row llr broadcast, the one-row frozen cut, and two
    //      per-source keep counts — nothing corpus-proportional ----
    "q198_dsir_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val occBase = dsirBigrams(docs.filter(!isDeltaDoc(col("doc_id"))))
      val llr = dsirLlr(occBase)
      val baseW = dsirWeights(occBase.filter(col("source") =!= "src0"), llr)
      val cut = sourceQuantiles(
        baseW.select(lit("all").as("source"), col("log_w")),
        Seq(0.8 -> "cut"), valueCol = "log_w")
        .select(col("cut"))
      val deltaW = dsirWeights(
        dsirBigrams(docs.filter(isDeltaDoc(col("doc_id"))))
          .filter(col("source") =!= "src0"), llr)
      val srcOf = docs.select(col("doc_id"), col("source"))
      def keptBy(w: DataFrame, nCol: String, kCol: String) =
        w.crossJoin(broadcast(cut))
          .join(srcOf, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as(nCol),
            sum(when(col("log_w") >= col("cut"), 1L).otherwise(0L)).as(kCol))
      keptBy(baseW, "n_base", "kept_base")
        .join(keptBy(deltaW, "n_delta", "kept_delta"), Seq("source"))
        // add-1/add-2 smoothing keeps every ln finite on an all-kept or
        // all-dropped side (q191's +1/+16 rule at two buckets)
        .withColumn("pbk", (col("kept_base") + 1.0) / (col("n_base") + 2.0))
        .withColumn("pdk", (col("kept_delta") + 1.0) / (col("n_delta") + 2.0))
        .withColumn("psi", round(
          (col("pdk") - col("pbk")) * log(col("pdk") / col("pbk")) +
          ((lit(1.0) - col("pdk")) - (lit(1.0) - col("pbk"))) *
            log((lit(1.0) - col("pdk")) / (lit(1.0) - col("pbk"))), 6))
        .select(col("source"), col("n_base"), col("kept_base"),
          round(col("kept_base").cast("double") / col("n_base"), 6)
            .as("keep_base"),
          col("n_delta"), col("kept_delta"),
          round(col("kept_delta").cast("double") / col("n_delta"), 6)
            .as("keep_delta"),
          col("psi"),
          when(col("psi") >= 0.1, 1).otherwise(0).cast("int").as("retrain"))
        .orderBy(col("source"))
    }),

    // ---- the decon SAFETY report (ADVICE r13 operationalized): the
    //      cell cap silently drops whole over-cap cells from semantic
    //      decontamination, and for a SAFETY filter a collapsed cell
    //      is exactly where contaminated mass concentrates — so this
    //      row set makes the drop visible instead of documented: per
    //      cell, population split by held side, the over-cap flag at
    //      the decon run's own cap, the flags the CAPPED run actually
    //      emitted from that cell, and `held_unscreened` — held mass
    //      inside a dropped cell, i.e. leaks the filter never looked
    //      at. Run on the collapsed-embedding rehearsal (q178's
    //      fixture, rehearsal cap 100) so the engaged regime is the
    //      one gated: the hot cell ships over_cap=1, n_flags=0, and
    //      every one of its held vectors unscreened. Deployment rule:
    //      held_unscreened must be 0 before trusting q182's output ----
    "q199_decon_safety" -> ((s, d) => {
      def isHeld(idc: Column): Column =
        substring(md5(idc.cast("string")), 1, 1) === "0"
      // ONE cap constant feeds both the contamination run and the
      // over-cap/unscreened report columns (ADVICE r14: four
      // independent copies of the literal could silently diverge from
      // the cap the run actually used)
      val rehearsalCap = 100
      val emb = skewedEmb(s, d)
      val stats = Similarity.cellSafetyStats(emb, "vec_id", "embedding", isHeld)
      val flags = Similarity.semanticContamination(emb, "vec_id", "embedding",
          isHeld, tau = 0.4, cellCap = rehearsalCap)
        .groupBy(col("cell")).agg(count(lit(1)).as("nf"))
      stats.join(flags, Seq("cell"), "left")
        .select(col("cell"), col("cell_size"), col("n_held"), col("n_train"),
          when(col("cell_size") > rehearsalCap, 1L).otherwise(0L)
            .as("over_cap"),
          coalesce(col("nf"), lit(0L)).as("n_flags"),
          when(col("cell_size") > rehearsalCap, col("n_held")).otherwise(0L)
            .as("held_unscreened"))
        .orderBy(col("cell"))
    }),

    // ---- the FFD packer in the TRAINING currency: q195's fold priced
    //      by the q96-trained BPE token counts instead of whitespace
    //      words (q125 did the same currency swap for the q61 budget
    //      packer) — proving the packer is token-model-agnostic: BPE
    //      fertility (~1.3 tokens/word on this corpus) inflates every
    //      size, so the layout genuinely differs from q195's. Fixture
    //      docs stay under the 512 budget in both currencies; the
    //      truncation branch is pinned by Wave17Spec's hand-computed
    //      toy fold. Same manifest schema as q195; the oracle replays
    //      the fold over the shared BPE encode CTEs ----
    "q200_bpe_ffd" -> ((s, d) => {
      val docs = bpeEncoded(s, d)
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .filter(col("n_tokens") > 0)
      ffdPack(docs).orderBy(col("doc_id"))
    }),

    // ---- the LSH BANDING sweep — the missing knob in the calibration
    //      set (q102 precision, q114 recall, q118 tau, q121 nProbe,
    //      q126 merges, q116 threshold): the (b, r) S-curve itself.
    //      One row per rows-per-band r ∈ {1, 2, 4} over the SAME 16
    //      nibble minima ([[Dedup.bandedSignaturesR]]): candidate pair
    //      count, precision against the 3-gram-Jaccard ≥ 0.5 verify
    //      (q102's rule), and recall against the fenced sampled exact
    //      truth (q114's design, ONE truth side shared by all three
    //      rows). Candidate sets are nested by construction
    //      (r=4 ⊆ r=2 ⊆ r=1 — an r-band match implies every sub-band
    //      match), so pairs and recall are monotone in r; Wave17Spec
    //      pins both monotonicities and r=2 ≡ the production scheme.
    //      Cost: ONE full-text minhash scan total (the shared
    //      corpusMinima artifact; the r=2 leg IS the production
    //      signature table), per-banding candidate-pair tables
    //      session-materialized once (bandSweepCandidates — the
    //      containment family's persisted-pair-artifact policy), and
    //      the truth side is the shared lshRecallTruth artifact q114
    //      reads. Per-invocation work is then the verify itself:
    //      exact 3-gram Jaccard over every candidate pair (the r=1
    //      leg's ~5M pairs at sf0.1 ARE the row's evidence — the
    //      high-recall end's wasted candidate budget, priced exactly).
    //      The first cut re-ran the raw shingle+minhash scan and pair
    //      generation per banding per invocation and rebuilt q114's
    //      brute-force truth inline: 40.8 s cold at sf0.1 vs ~12 s
    //      under the artifact policy (bench protocol, idle host) ----
    "q201_lsh_band_sweep" -> ((s, d) =>
      bandSweepRows(s, d).orderBy(col("rows_per_band"))),

    // ---- the OPERATING-POINT pick the q201 sweep motivates: the
    //      textbook S-curve error decomposition per (b, r) — FP area
    //      (∫ below the 0.5 operating threshold of
    //      P[cand] = 1 − (1 − s^r)^b: candidate budget spent on
    //      non-dups) and FN area (∫ of the miss rate above it), by a
    //      200-point midpoint Riemann sum (Leskovec et al., MMDS ch. 3
    //      — the curve has no elementary antiderivative), joined to
    //      the MEASURED precision/recall of the same three bandings
    //      and argmin-picked. The powers are explicit squaring chains
    //      ((q*q)*(q*q)…) mirrored exactly in the oracle — pow() libm
    //      identities are not something to bet a hash gate on. One
    //      200-row single-partition range + the sweep's shared
    //      artifacts; the argmin is a one-row scalar crossJoin ----
    "q202_lsh_operating_point" -> ((s, d) => {
      val k = 200
      def powChain(base: Column, e: Int): Column = {
        require(e > 0 && (e & (e - 1)) == 0, s"power-of-two exponent: $e")
        Iterator.iterate(base)(c => c * c)
          .drop(Integer.numberOfTrailingZeros(e)).next()
      }
      val grid = s.range(0, k, 1, 1).select(col("id"),
        ((col("id").cast("double") + 0.5) / k).as("sv"))
      val theory = Seq(1, 2, 4).map { r =>
        val b = 16 / r
        // qb = (1 - s^r)^b is the miss rate; P[candidate] = 1 - qb.
        // The FN sum uses qb DIRECTLY, not 1 - (1 - qb): the latter is
        // not bitwise qb near 0 and the oracle mirrors this exact form
        val qb = powChain(lit(1.0) - powChain(col("sv"), r), b)
        grid.agg(
          round(sum(when(col("id") < k / 2, lit(1.0) - qb).otherwise(0.0)) / k,
            6).as("fp_area"),
          round(sum(when(col("id") >= k / 2, qb).otherwise(0.0)) / k, 6)
            .as("fn_area"))
          .select(lit(r).cast("long").as("rows_per_band"),
            lit(16 / r).cast("long").as("n_bands"),
            col("fp_area"), col("fn_area"),
            round(col("fp_area") + col("fn_area"), 6).as("total_err"))
      }.reduce(_ unionByName _)
      val best = theory.agg(min(col("total_err")).as("best_err"))
      theory.crossJoin(broadcast(best))
        .withColumn("is_chosen",
          (col("total_err") === col("best_err")).cast("long"))
        .drop("best_err")
        .join(bandSweepRows(s, d).select(col("rows_per_band"), col("n_pairs"),
          col("lsh_precision"), col("lsh_recall")), Seq("rows_per_band"))
        .orderBy(col("rows_per_band"))
    }),

    // ---- cross-SOURCE overlap matrix: per source pair, the near-dup
    //      candidate mass (production r=2 banding, n_bands >= 2 —
    //      q45's rule, read off the persisted signature table) and the
    //      exactly-shared content-hash count — the ingest dashboard
    //      that says WHICH feeds re-crawl each other (q117 says how
    //      much each source duplicates; this says with whom, the
    //      decision input for dropping a mirror feed wholesale before
    //      paying per-doc dedup on it). Source-pair-bounded output;
    //      the near-dup legs are doc_id-keyed joins onto the candidate
    //      pairs, the exact leg a content-hash-keyed self-join of the
    //      DISTINCT (source, hash) projection ----
    "q203_source_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val src = docs.select(col("doc_id"), col("source"))
      val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id"))
      val nd = cand
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
          Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
          Seq("b_id"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_neardup_pairs"))
      val hs = docs.select(col("source"),
        substring(md5(col("text")), 1, 16).as("h")).distinct()
      val ex = hs.select(col("h"), col("source").as("sa"))
        .join(hs.select(col("h"), col("source").as("sb")), Seq("h"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
        .agg(countDistinct(col("h")).as("n_exact_hashes"))
      nd.join(ex, Seq("source_a", "source_b"), "full")
        .select(col("source_a"), col("source_b"),
          coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"),
          coalesce(col("n_exact_hashes"), lit(0L)).as("n_exact_hashes"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ---- per-language EFFECTIVE EPOCHS under a token budget: the
    //      α=0.7 temperature weights (q166's token currency) allocate
    //      a one-corpus-sized budget B = total tokens per language
    //      (sized so the boosted tail crosses 1 epoch while the head
    //      stays under — both decay branches exercise); epochs =
    //      alloc/T
    //      says how often that language's data repeats, and the
    //      repeated-epoch value discount of data-constrained scaling
    //      (Muennighoff et al. 2023, NeurIPS — repeated data is worth
    //      geometrically less) prices the allocation: effective
    //      tokens = T·Σ_{e≤E} δ^{e-1} with δ = 0.5, fractional last
    //      epoch at its decayed value, so efficiency = effective/alloc
    //      says what fraction of the budget buys new information.
    //      Language-cardinality-bounded; one one-row normalizer
    //      scalar (q166's fenced pattern) ----
    "q204_effective_epochs" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"),
          size(TA.wsTokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
        // a language whose docs are all empty text would divide the
        // epoch arithmetic by zero (Infinity on both engines is not a
        // gate to bet on); a zero-token language has no allocation row
        .filter(col("n_tokens") > 0)
      val t = toks.agg(sum(col("n_tokens")).as("tot"),
        sum(pow(col("n_tokens").cast("double"), lit(0.7))).as("z07"))
      val ntD = col("n_tokens").cast("double")
      val w = pow(ntD, lit(0.7)) / col("z07")
      val alloc = w * col("tot").cast("double")
      val e = alloc / ntD
      val fullD = floor(e).cast("double")
      val dk = pow(lit(0.5), fullD)
      val eff = ntD * (lit(2.0) * (lit(1.0) - dk) + (e - fullD) * dk)
      toks.crossJoin(broadcast(t))
        .select(col("lang"), col("n_tokens"),
          round(w, 6).as("w_a07"),
          round(alloc, 2).as("alloc_tokens"),
          round(e, 6).as("eff_epochs"),
          round(eff, 2).as("effective_tokens"),
          round(eff / alloc, 6).as("efficiency"),
          (round(e, 6) > 1.0).cast("long").as("repeats"))
        .orderBy(col("lang"))
    }),

    // ---- one DoReMi-style mixture-reweighting step (Xie et al. 2023,
    //      NeurIPS): per-source excess loss — here the frozen q108
    //      logistic quality as the (negated) proxy reference, excess =
    //      max_source(mean quality) − mean quality — drives an
    //      exponentiated-gradient update of the sampling weights,
    //      w' ∝ w₀·exp(η·excess) with η = 1 off the document-share
    //      prior. The output card is the retrained mixture a loader
    //      would consume next round (q152/q161's slot, learned instead
    //      of temperature-heuristic). Source-cardinality-bounded; two
    //      one-row scalars (max/total and the normalizer Z) ----
    "q205_doremi_step" -> ((s, d) => {
      val bySrc = docQuality(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality_score")), 6).as("mean_quality"))
      val mx = bySrc.agg(max(col("mean_quality")).as("max_q"),
        sum(col("n_docs")).as("tot_docs"))
      val staged = bySrc.crossJoin(broadcast(mx))
        .withColumn("excess_loss", round(col("max_q") - col("mean_quality"), 6))
        .withColumn("w0", col("n_docs").cast("double") / col("tot_docs"))
        .withColumn("g", col("w0") * exp(col("excess_loss")))
      val z = staged.agg(sum(col("g")).as("z"))
      staged.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("mean_quality"),
          col("excess_loss"), round(col("w0"), 6).as("w0"),
          round(col("g") / col("z"), 6).as("w_new"),
          round(col("g") / col("z") / col("w0"), 6).as("boost"))
        .orderBy(col("source"))
    }),

    // ---- per-doc DUPLICATION PROFILE: what fraction of each doc's
    //      8-token spans (q92's span grid exactly) occurs in MORE THAN
    //      ONE document — the symmetric "duplicated text mass"
    //      statistic of Lee et al. 2022 (§4: ~14% of C4's text is
    //      duplicated), which q92's first-occurrence policy cannot
    //      report (the first copy keeps everything and reads as
    //      clean). Cross-doc only — within-doc repeats are q60's
    //      metric. One span-key groupBy + one span-key-keyed join
    //      back; nothing corpus-quadratic ----
    "q206_duplication_profile" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
        .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
      val spans = toks.filter(col("n_spans") >= 1)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
            i => array_join(slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
            .as(Seq("span_idx", "span")))
        .select(col("doc_id"), substring(md5(col("span")), 1, 16).as("k"))
      val counts = spans.groupBy(col("k"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      spans.join(counts, Seq("k"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
            .as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // ---- contamination VELOCITY: q59's exact 8-gram decontamination
    //      rule broken down by ingest batch (second md5 nibble mod 4 —
    //      a deterministic stand-in for arrival order), the monitoring
    //      row that says WHICH ingest window brought the eval leak —
    //      read next to q191's drift wall, it is the trigger for
    //      auditing a specific crawl window instead of re-screening
    //      the whole corpus. Same broadcast held-set join as q59; one
    //      batch-cardinality-bounded aggregate on top ----
    "q207_contamination_velocity" -> ((s, d) => {
      val grams = splitGrams(s, d)
      val heldOut = grams.filter(col("hb") === "0").select(col("gh")).distinct()
      val perDoc = grams.filter(col("hb") =!= "0")
        .join(broadcast(heldOut), Seq("gh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("shared_grams"))
      val batches = Tables.documents(s, d)
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("hb"),
          pmod(conv(substring(md5(col("doc_id").cast("string")), 2, 1), 16, 10)
            .cast("long"), lit(4L)).as("batch_id"))
        .filter(col("hb") =!= "0")
      batches.join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("shared_grams")).as("n_flagged"),
          coalesce(sum(col("shared_grams")), lit(0L)).as("n_shared_grams"))
        .select(col("batch_id"), col("n_docs"), col("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_docs"), 6)
            .as("flag_rate"),
          col("n_shared_grams"))
        .orderBy(col("batch_id"))
    }),

    // ---- loader SHARD MANIFEST: the FFD-packed sequences (q195's
    //      manifest) dealt into 8 loader shards by content hash of the
    //      sequence key (source, seq_id) — shard assignment must be
    //      reproducible across re-runs and independent of scan order,
    //      so it hashes the key, never a row number. The card a
    //      multi-host training run reads before launch: per shard,
    //      sequences, docs, kept tokens, pad tokens, and the load
    //      ratio vs the 8-way-even ideal (at 100 TB the CLT makes
    //      hash sharding near-even — millions of ≤512-token sequences
    //      per shard — and this card is the proof artifact; 8 is
    //      fixture-scale, the rule is shard-count-agnostic). One
    //      groupBy on the packed manifest + one 8-row aggregate; the
    //      total is a one-row fenced scalar (q48's pattern) ----
    "q208_shard_manifest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val seqs = ffdPack(docs)
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("nd"), sum(col("n_kept")).as("kept"))
        .withColumn("shard_id",
          pmod(conv(substring(md5(concat_ws(":", col("source"),
            col("seq_id").cast("string"))), 1, 1), 16, 10).cast("long"),
            lit(8L)))
      // two consumers (the card and its one-row total) of the 8-row
      // aggregate — persist so the packing fold runs once
      val ag = graft.util.Persist(seqs.groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("nd")).as("n_docs"),
          sum(col("kept")).as("kept_tokens"))
        .withColumn("pad_tokens",
          col("n_seqs") * packBudget - col("kept_tokens")))
      val tot = ag.agg(sum(col("kept_tokens")).as("tt"))
      ag.crossJoin(broadcast(tot))
        .select(col("shard_id"), col("n_seqs"), col("n_docs"),
          col("kept_tokens"), col("pad_tokens"),
          round(col("kept_tokens").cast("double") /
            (col("tt").cast("double") / 8.0), 6).as("load_ratio"))
        .orderBy(col("shard_id"))
    }),

    // ---- CURRICULUM schedule: the corpus dealt into 3 quality phases
    //      (low → high) by EXACT terciles of the q108 frozen logistic
    //      score — thresholds via the distributed R-7 quantile shape
    //      (q153's discipline: grouped value counts, never a
    //      corpus-sized sort; the value space is score-resolution-
    //      bounded at 6 decimals), phase assignment a pure scan
    //      against the 2-scalar broadcast. The card a curriculum
    //      loader consumes: per phase, docs, tokens, mean quality,
    //      token share, and the cumulative share (the schedule
    //      position where each phase starts). Token conservation is
    //      Wave19Spec-pinned ----
    "q209_curriculum_phases" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ph = curriculumFrame(s, d)
      val per = ph.groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          round(avg(col("quality_score")), 6).as("mean_quality"))
      val tot = per.agg(sum(col("n_tokens")).as("tt"))
      // 3-row frame: the global-order window is phase-cardinality-
      // bounded, never corpus-sized
      val w = Window.orderBy(col("phase"))
        .rowsBetween(Window.unboundedPreceding, 0)
      per.crossJoin(broadcast(tot))
        .withColumn("token_share",
          round(col("n_tokens").cast("double") / col("tt"), 6))
        .withColumn("cum_token_share",
          round(sum(col("n_tokens")).over(w).cast("double") / col("tt"), 6))
        .select(col("phase"), col("n_docs"), col("n_tokens"),
          col("mean_quality"), col("token_share"), col("cum_token_share"))
        .orderBy(col("phase"))
    }),

    // ---- the REPEAT-VALUE CURVE: q204's data-constrained allocation
    //      (Muennighoff et al. 2023, NeurIPS) swept across token
    //      budgets {0.5×, 1×, 2×, 4×} the corpus — the scaling
    //      decision table that says how much of a bigger compute
    //      budget repeated data actually converts into effective
    //      tokens (δ = 0.5 epoch decay), and when languages cross the
    //      ~4-epoch wall where further repetition is near-worthless.
    //      Lang-cardinality × 4 budget rows inside; 4-row output; one
    //      one-row (total, Z) normalizer scalar (q204's fenced
    //      pattern) ----
    "q210_repeat_value_curve" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"),
          size(TA.wsTokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val t = toks.agg(sum(col("n_tokens")).as("tot"),
        sum(pow(col("n_tokens").cast("double"), lit(0.7))).as("z07"))
      val ntD = col("n_tokens").cast("double")
      val wgt = pow(ntD, lit(0.7)) / col("z07")
      val alloc = wgt * col("tot").cast("double") * col("m")
      val e = alloc / ntD
      val fullD = floor(e).cast("double")
      val dk = pow(lit(0.5), fullD)
      val eff = ntD * (lit(2.0) * (lit(1.0) - dk) + (e - fullD) * dk)
      toks.crossJoin(broadcast(t))
        .withColumn("m", explode(array(lit(0.5), lit(1.0), lit(2.0), lit(4.0))))
        .select(col("m"), alloc.as("alloc"), eff.as("eff"),
          (round(e, 6) > 1.0).cast("long").as("rep"),
          (round(e, 6) > 4.0).cast("long").as("over4"))
        .groupBy(col("m"))
        .agg(round(sum(col("alloc")), 2).as("budget_tokens"),
          round(sum(col("eff")), 2).as("effective_tokens"),
          round(sum(col("eff")) / sum(col("alloc")), 6).as("efficiency"),
          sum(col("rep")).as("n_langs_repeat"),
          sum(col("over4")).as("n_langs_over4"))
        .select(col("m").as("budget_x"), col("budget_tokens"),
          col("effective_tokens"), col("efficiency"),
          col("n_langs_repeat"), col("n_langs_over4"))
        .orderBy(col("budget_x"))
    }),

    // ---- two-key QUOTA sampling: a balanced eval slice drawn per
    //      (lang × source) cell — rank by content hash of doc_id
    //      (reproducible, scan-order-free), keep the first 8 per cell
    //      (on the fixture the quota BINDS on the large cells and not
    //      the small ones, so both regimes are gated; the rule is
    //      quota-agnostic). The card: eligibility, take, coverage,
    //      sampled tokens, and the md5 fingerprint of the exact taken
    //      id set — the gate pins WHICH docs were drawn, not just how
    //      many. Per-cell window sort (cell-bounded); no scalar, no
    //      crossJoin ----
    "q211_quota_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs.withColumn("rn", row_number().over(w))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_eligible"),
          sum(when(col("rn") <= 8, 1L).otherwise(0L)).as("n_taken"),
          coalesce(sum(when(col("rn") <= 8, col("n_tokens"))), lit(0L))
            .as("sample_tokens"),
          substring(md5(array_join(transform(
            sort_array(collect_list(when(col("rn") <= 8, col("doc_id")))),
            x => x.cast("string")), ",")), 1, 16).as("sample_fp"))
        .select(col("lang"), col("source"), col("n_eligible"), col("n_taken"),
          round(col("n_taken").cast("double") / col("n_eligible"), 6)
            .as("coverage"),
          col("sample_tokens"), col("sample_fp"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---- CHAINED DoReMi maintenance: q205's one-step exponentiated-
    //      gradient update applied SEQUENTIALLY over three ingest
    //      batches (first-md5-nibble mod 3 — q207's deterministic
    //      arrival-order stand-in) — the mixture-weights twin of the
    //      incremental ledger family: the deployed sampling weights
    //      are a maintained artifact, re-estimated per ingest window
    //      from that window's per-source excess loss, never refit from
    //      scratch. w₀ = doc-share prior; wₖ₊₁ ∝ wₖ·exp(excessₖ) with
    //      excessₖ = max_source(mean qualityₖ) − mean qualityₖ
    //      (missing source-batch cells update by 0 — no evidence, no
    //      move). Source-cardinality-bounded throughout; the batch
    //      maxima and the three EG normalizers are one-row fenced
    //      scalars (q205's pattern, chained) ----
    "q212_doremi_chained" -> ((s, d) => {
      val batchOf = pmod(conv(substring(md5(col("doc_id").cast("string")),
        1, 1), 16, 10).cast("long"), lit(3L))
      // one corpus scan: the per-(source, batch) means pivot to one
      // source-cardinality frame every chained step reads
      val pv = graft.util.Persist(docQuality(s, d)
        .withColumn("batch", batchOf)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(when(col("batch") === 0, col("quality_score"))), 6)
            .as("m0"),
          round(avg(when(col("batch") === 1, col("quality_score"))), 6)
            .as("m1"),
          round(avg(when(col("batch") === 2, col("quality_score"))), 6)
            .as("m2")))
      val mx = pv.agg(max(col("m0")).as("x0"), max(col("m1")).as("x1"),
        max(col("m2")).as("x2"), sum(col("n_docs")).as("tot"))
      val s0 = pv.crossJoin(broadcast(mx))
        .withColumn("w0", col("n_docs").cast("double") / col("tot"))
        .withColumn("e0", coalesce(round(col("x0") - col("m0"), 6), lit(0.0)))
        .withColumn("e1", coalesce(round(col("x1") - col("m1"), 6), lit(0.0)))
        .withColumn("e2", coalesce(round(col("x2") - col("m2"), 6), lit(0.0)))
      val g1 = s0.withColumn("g1", col("w0") * exp(col("e0")))
      val w1 = g1.crossJoin(broadcast(g1.agg(sum(col("g1")).as("z1"))))
        .withColumn("w1", col("g1") / col("z1"))
      val g2 = w1.withColumn("g2", col("w1") * exp(col("e1")))
      val w2 = g2.crossJoin(broadcast(g2.agg(sum(col("g2")).as("z2"))))
        .withColumn("w2", col("g2") / col("z2"))
      val g3 = w2.withColumn("g3", col("w2") * exp(col("e2")))
      val w3 = g3.crossJoin(broadcast(g3.agg(sum(col("g3")).as("z3"))))
        .withColumn("w3", col("g3") / col("z3"))
      w3.select(col("source"), col("n_docs"), col("m0"), col("m1"), col("m2"),
          round(col("w0"), 6).as("w0"), round(col("w1"), 6).as("w1"),
          round(col("w2"), 6).as("w2"), round(col("w3"), 6).as("w3"),
          round(col("w3") / col("w0"), 6).as("boost"))
        .orderBy(col("source"))
    }),

    // ---- index STALENESS cost: what q137's incremental maintenance
    //      BUYS — recall@3 against the exact full-corpus truth for the
    //      STALE index (base vectors only: the didn't-maintain
    //      counterfactual, delta vectors invisible) vs the MAINTAINED
    //      index (full corpus), same IVF search (16 cells, 4 probes)
    //      on both sides. Queries whose true neighbors arrived in the
    //      delta can only lose them under the stale index; `gain` is
    //      the per-query hit count maintenance recovered — the number
    //      that justifies running the q137 loop at all. Fenced eval:
    //      bounded 50-query truth side (q25's design), cell-keyed
    //      candidate joins on both index sides ----
    "q213_index_staleness" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val truth = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
          k = 3)
        .select(col("q_id"), col("n_id"))
      val stale = Similarity.ivfTopK(q, emb.filter(!isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", k = 3, nCells = 16, nProbe = 4)
        .select(col("q_id").as("s_q"), col("n_id").as("s_n"))
      val maint = Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 3,
          nCells = 16, nProbe = 4)
        .select(col("q_id").as("m_q"), col("n_id").as("m_n"))
      truth
        .join(stale, col("q_id") === col("s_q") && col("n_id") === col("s_n"),
          "left")
        .join(maint, col("q_id") === col("m_q") && col("n_id") === col("m_n"),
          "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_truth"),
          count(col("s_n")).as("stale_hits"),
          count(col("m_n")).as("maintained_hits"))
        .select(col("q_id"), col("stale_hits"), col("maintained_hits"),
          round(col("stale_hits").cast("double") / col("n_truth"), 6)
            .as("stale_recall"),
          round(col("maintained_hits").cast("double") / col("n_truth"), 6)
            .as("maintained_recall"),
          (col("maintained_hits") - col("stale_hits")).as("gain"))
        .orderBy(col("q_id"))
    }),

    // ---- STREAMING mixture maintenance: the q212 chain executed as a
    //      real ordered ingest — the deployed sampling weights as a
    //      maintained artifact (the sixth incremental family, after
    //      the detectors, the index, the sketches, and the ledger).
    //      The doc-share prior is release-known (persisted before the
    //      stream starts — you know last release's source mix); each
    //      arriving micro-batch is scored with the frozen q108
    //      coefficients ([[qualityOf]]) and applies ONE EG step to the
    //      previous weight version, writing version k. The EG chain is
    //      order-DEPENDENT, so the ingest uses [[writeOrderedBatches]]
    //      (one file per md5 batch, fixed increasing mtimes) instead
    //      of q179's arbitrary-membership ingest — and the final card
    //      is gated on q212's UNCHANGED oracle: streaming maintenance
    //      is value-identical to the batch chain. Per-batch cost is
    //      |batch| scoring + a source-cardinality join; nothing
    //      corpus-proportional recomputes ----
    "q214_stream_mixture" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val batchOf = pmod(conv(substring(md5(col("doc_id").cast("string")),
        1, 1), 16, 10).cast("long"), lit(3L))
      val priorDir = CoreQueries.sharedInputDir(
        s"graft_q214_prior_${CoreQueries.dirToken(d)}") { p =>
        val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = cnt.agg(sum(col("n_docs")).as("tot"))
        cnt.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            (col("n_docs").cast("double") / col("tot")).as("w"))
          .repartition(1).write.mode("overwrite").parquet(p)
      }
      val in = CoreQueries.sharedInputDir(
        s"graft_q214_in_${CoreQueries.dirToken(d)}") { p =>
        writeOrderedBatches(p, Seq(0L, 1L, 2L).map(k =>
          docs.filter(batchOf === k)))
      }
      val dir = CoreQueries.tempQueryDir("graft_q214_smix_")
      val wRoot = s"$dir/w"; val mRoot = s"$dir/m"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, docs.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val means = qualityOf(batch.toDF()).groupBy(col("source"))
              .agg(round(avg(col("quality_score")), 6).as("m"))
            graft.streaming.Streaming.writeBatch(means, id, mRoot,
              append = true)
            val prior = if (id == 0L)
                s.read.parquet(priorDir)
                  .select(col("source"), col("n_docs"), col("w"))
              else s.read.parquet(s"$wRoot/batch_id=${id - 1}")
            val mx = means.agg(max(col("m")).as("x"))
            val stepped = prior.join(means, Seq("source"), "left")
              .crossJoin(broadcast(mx))
              .withColumn("e",
                coalesce(round(col("x") - col("m"), 6), lit(0.0)))
              .withColumn("g", col("w") * exp(col("e")))
            val z = stepped.agg(sum(col("g")).as("z"))
            stepped.crossJoin(broadcast(z))
              .select(col("source"), col("n_docs"),
                (col("g") / col("z")).as("w"))
              .write.mode("overwrite").parquet(s"$wRoot/batch_id=$id")
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val w0 = s.read.parquet(priorDir)
        .select(col("source"), col("n_docs"), col("w").as("wv0"))
      val ms = s.read.parquet(mRoot).groupBy(col("source"))
        .agg(max(when(col("batch_id") === 0, col("m"))).as("m0"),
          max(when(col("batch_id") === 1, col("m"))).as("m1"),
          max(when(col("batch_id") === 2, col("m"))).as("m2"))
      val wk = (0 to 2).map(k => s.read.parquet(s"$wRoot/batch_id=$k")
        .select(col("source"), col("w").as(s"wv${k + 1}")))
      wk.foldLeft(w0.join(ms, Seq("source"))) { (acc, f) =>
          acc.join(f, Seq("source")) }
        .select(col("source"), col("n_docs"), col("m0"), col("m1"),
          col("m2"),
          round(col("wv0"), 6).as("w0"), round(col("wv1"), 6).as("w1"),
          round(col("wv2"), 6).as("w2"), round(col("wv3"), 6).as("w3"),
          round(col("wv3") / col("wv0"), 6).as("boost"))
        .orderBy(col("source"))
    }),

    // ---- CURRICULUM-AWARE packing: q209's phases composed with
    //      q195's FFD packer — a curriculum loader packs each phase
    //      independently (a sequence must never mix phases, or the
    //      schedule leaks late-phase data early), so the shard key is
    //      the (phase : source) composite and phase purity holds BY
    //      CONSTRUCTION. The card: per phase, docs, sequences, kept/
    //      pad/truncation tokens — the phase-budget table next to
    //      q209's schedule. The oracle replays the fold over the
    //      composite key with the phase CTEs inlined ----
    "q215_curriculum_packing" -> ((s, d) => {
      val cf = curriculumFrame(s, d)
        .select(col("doc_id"),
          concat_ws(":", col("phase"), col("source")).as("source"),
          col("n_tokens"))
        .filter(col("n_tokens") > 0)
      ffdPack(cf)
        .withColumn("phase", split(col("source"), ":").getItem(0)
          .cast("long"))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source"), col("seq_id")).as("n_seqs"),
          sum(col("n_kept")).as("kept_tokens"),
          sum(col("n_dropped")).as("trunc_tokens"))
        .select(col("phase"), col("n_docs"), col("n_seqs"),
          col("kept_tokens"),
          (col("n_seqs") * packBudget - col("kept_tokens")).as("pad_tokens"),
          col("trunc_tokens"))
        .orderBy(col("phase"))
    }),

    // ---- IVF probe-budget OPERATING POINT: q121's recall sweep
    //      joined with what each probe level COSTS — the candidate
    //      pairs the coarse quantizer admits ([[Similarity
    //      .ivfCandidatePairs]], the exact scan work of the fine
    //      stage) as a fraction of the brute-force pair count — and
    //      the q202-style pick: argmin of (1 − recall) + scan_frac,
    //      the equal-weight trade a deployment makes when a scanned
    //      candidate costs what a missed neighbor costs. 5 bounded
    //      sweep rows; the pick is a 5-row window ----
    "q216_ivf_operating_point" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = graft.util.Persist(
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      val usable = emb
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"),
          // == the former aggregate(v, 0D, (acc,x) -> acc + x*x) HOF:
          // same sequential IEEE fold, compiled (DotFold, round 18)
          Similarity.dotFold(col("embedding").cast("array<double>"),
            col("embedding").cast("array<double>")).as("nrm"))
        .filter(col("nrm") > 0)
      val sc = usable.agg(count(lit(1)).as("nc"),
        sum(when(col("vec_id") < 50, 1L).otherwise(0L)).as("nq"))
      val rows = Seq(1, 2, 4, 8, 16).map { p =>
        val pairs = Similarity.ivfCandidatePairs(q, emb, "vec_id",
          "embedding", nProbe = p)
        val cand = pairs.agg(count(lit(1)).as("n_candidates"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
        val approx = pairs.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        val rec = exact.join(approx,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("a_n")).as("n_found"))
        cand.crossJoin(rec).crossJoin(broadcast(sc))
          .select(lit(p.toLong).as("n_probe"), col("n_candidates"),
            round(col("n_candidates").cast("double") /
              (col("nq") * (col("nc") - 1)), 6).as("scan_frac"),
            round(col("n_found").cast("double") / col("n_exact"), 6)
              .as("recall"))
      }.reduce(_.unionByName(_))
      // the pick works on the ROUNDED columns so both engines compare
      // identical decimals
      val pickW = Window.orderBy(
        (lit(1.0) - col("recall") + col("scan_frac")), col("n_probe"))
      rows
        .withColumn("total_cost",
          round(lit(1.0) - col("recall") + col("scan_frac"), 6))
        .withColumn("picked",
          (row_number().over(pickW) === 1).cast("long"))
        .select(col("n_probe"), col("n_candidates"), col("scan_frac"),
          col("recall"), col("total_cost"), col("picked"))
        .orderBy(col("n_probe"))
    }),

    // ---- REPACK CHURN: what an ingest does to an already-packed
    //      corpus — FFD packing is globally greedy, so adding delta
    //      docs can reshuffle base docs across sequences; this card
    //      counts, per source, how many base docs kept their exact
    //      (seq_id, offset) slot, how many changed sequence, and the
    //      ingest size that caused it. The operational number behind
    //      shard caching: high churn says repacking invalidates
    //      shipped shards, i.e. pack delta docs into NEW sequences
    //      (q195 per-shard incrementality) instead of re-running the
    //      global fold. Two folds + one doc_id-keyed join ----
    "q217_repack_churn" -> ((s, d) => {
      def tok(df: DataFrame) = df.select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val docs = Tables.documents(s, d)
      val pb = ffdPack(tok(docs.filter(!isDeltaDoc(col("doc_id")))))
        .select(col("doc_id"), col("source"), col("seq_id").as("b_seq"),
          col("offset_in_seq").as("b_off"))
      val pf = ffdPack(tok(docs))
        .select(col("doc_id"), col("seq_id").as("f_seq"),
          col("offset_in_seq").as("f_off"))
      val nd = tok(docs.filter(isDeltaDoc(col("doc_id"))))
        .groupBy(col("source")).agg(count(lit(1)).as("n_delta_docs"))
      pb.join(pf, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_base_docs"),
          sum(when(col("b_seq") === col("f_seq") &&
            col("b_off") === col("f_off"), 1L).otherwise(0L)).as("n_stable"),
          sum(when(col("b_seq") =!= col("f_seq"), 1L).otherwise(0L))
            .as("n_moved_seq"))
        .join(nd, Seq("source"), "left")
        .select(col("source"), col("n_base_docs"), col("n_stable"),
          col("n_moved_seq"),
          coalesce(col("n_delta_docs"), lit(0L)).as("n_delta_docs"),
          round(lit(1.0) - col("n_stable").cast("double") /
            col("n_base_docs"), 6).as("churn_frac"))
        .orderBy(col("source"))
    }),

    // ---- INCREMENTAL packing: the remedy q217's churn card argues
    //      for — the released base packing is IMMUTABLE (its open bins
    //      are declared closed at release cut), and delta docs fold
    //      into NEW sequences only, seq ids continuing after the
    //      base's per-source maximum. Base rows churn ZERO by
    //      construction; ingest cost is the delta fold alone. The
    //      price (extra open-bin pad vs a global re-fold) is
    //      Wave21Spec-pinned against q195. Output is the combined
    //      manifest with provenance ----
    "q218_incremental_packing" -> ((s, d) => {
      def tok(df: DataFrame) = df.select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val docs = Tables.documents(s, d)
      // two consumers (the union and the per-source seq offsets) of
      // the base fold — persist so it runs once
      val base = graft.util.Persist(
        ffdPack(tok(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val seq0 = base.groupBy(col("source"))
        .agg((max(col("seq_id")) + 1).as("seq0"))
      val delta = ffdPack(tok(docs.filter(isDeltaDoc(col("doc_id")))))
        .join(seq0, Seq("source"), "left")
        .withColumn("seq_id", col("seq_id") + coalesce(col("seq0"), lit(0L)))
        .drop("seq0")
      base.withColumn("origin", lit("base"))
        .unionByName(delta.withColumn("origin", lit("delta")))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"),
          col("offset_in_seq"), col("n_kept"), col("n_dropped"),
          col("origin"))
        .orderBy(col("doc_id"))
    }),

    // ---- index TOMBSTONES: the delete side of ANN-index maintenance
    //      (q137 covered appends) — the q86 semantic-dedup drop list
    //      applied to the persisted cell index as tombstones, i.e. the
    //      index deduplicates ITSELF. The maintained occupancy is a
    //      per-cell DECREMENT (n_base − n_dropped, never a corpus
    //      rescan); the oracle RECOUNTS kept vectors from scratch, so
    //      the gate proves decrement-maintenance ≡ recount — the
    //      invariant that lets a 100 TB index process deletions
    //      without rebuilding. Cell-keyed aggregates throughout; the
    //      drop list is the q86 pipeline verbatim ----
    "q219_index_tombstones" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Similarity.cellIndex(emb, "vec_id", "embedding")
      val drops = Similarity.semanticDedup(emb, "vec_id", "embedding",
          tau = 0.4, nCells = 16)
        .select(col("dropped_id").as("id"))
      val dropped = idx.join(drops, Seq("id"), "left_semi")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_dropped"))
      idx.groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
        .join(dropped, Seq("cell"), "left")
        .select(col("cell"), col("n_base"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_base") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_kept"),
          round(coalesce(col("n_dropped"), lit(0L)).cast("double") /
            col("n_base"), 6).as("drop_frac"))
        .orderBy(col("cell"))
    }),

    // ---- tokenizer RETRAIN trigger: the q198 discipline (monitor the
    //      frozen model's output distribution, not its inputs) applied
    //      to the frozen full-corpus BPE tokenizer — per source, the
    //      trained-merge fertility (q157's currency) on the base slice
    //      vs the delta ingest, and the ratio flag at ±2 % relative
    //      drift. A drifting source (new domain jargon, new language
    //      mix) inflates delta fertility under the frozen merges — the
    //      signal to retrain the tokenizer at the NEXT release, never
    //      mid-release. Cost: the memoized q122 encode + one
    //      source-cardinality pivot ----
    "q220_fertility_trigger" -> ((s, d) => {
      val enc = bpeEncoded(s, d).withColumn("side",
        when(isDeltaDoc(col("doc_id")), lit("delta")).otherwise(lit("base")))
      enc.groupBy(col("source"))
        .agg(sum(when(col("side") === "base", col("n_words"))).as("bw"),
          sum(when(col("side") === "base", col("n_tokens"))).as("bt"),
          sum(when(col("side") === "delta", col("n_words"))).as("dw"),
          sum(when(col("side") === "delta", col("n_tokens"))).as("dt"))
        .select(col("source"),
          round(col("bt").cast("double") / col("bw"), 6)
            .as("base_fertility"),
          round(col("dt").cast("double") / col("dw"), 6)
            .as("delta_fertility"))
        .withColumn("fert_ratio",
          round(col("delta_fertility") / col("base_fertility"), 6))
        // a source with no delta (or no base) slice has no evidence:
        // ratio stays NULL, the flag reads 0, never NULL
        .withColumn("flagged",
          coalesce((abs(col("fert_ratio") - 1.0) > 0.02).cast("long"),
            lit(0L)))
        .select(col("source"), col("base_fertility"),
          col("delta_fertility"), col("fert_ratio"), col("flagged"))
        .orderBy(col("source"))
    }),

    // ---- CHAINED incremental packing: q218's immutability rule held
    //      across TWO consecutive ingests (q142's sub-split — the
    //      associativity rehearsal for the packing family): base fold
    //      released, ingest-1 docs fold into new sequences past the
    //      base per-source max, ingest-2 past the ingest-1-combined
    //      max. Nothing ever re-folds; each step's cost is its own
    //      delta. The chain's pad price vs the one-shot q218 delta
    //      fold is Wave22Spec-pinned (chaining can only add open
    //      bins). Output is the three-origin manifest ----
    "q221_packing_chain" -> ((s, d) => {
      def tok(df: DataFrame) = df.select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val docs = Tables.documents(s, d)
      val base = graft.util.Persist(
        ffdPack(tok(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val s1 = base.groupBy(col("source"))
        .agg((max(col("seq_id")) + 1).as("s0"))
      val d1 = graft.util.Persist(
        ffdPack(tok(docs.filter(isDeltaDoc(col("doc_id")) &&
            isFirstIngest(col("doc_id")))))
          .join(s1, Seq("source"), "left")
          .withColumn("seq_id", col("seq_id") + coalesce(col("s0"), lit(0L)))
          .drop("s0"))
      val s2 = base.select(col("source"), col("seq_id"))
        .unionByName(d1.select(col("source"), col("seq_id")))
        .groupBy(col("source")).agg((max(col("seq_id")) + 1).as("s0"))
      val d2 = ffdPack(tok(docs.filter(isDeltaDoc(col("doc_id")) &&
          !isFirstIngest(col("doc_id")))))
        .join(s2, Seq("source"), "left")
        .withColumn("seq_id", col("seq_id") + coalesce(col("s0"), lit(0L)))
        .drop("s0")
      base.withColumn("origin", lit("base"))
        .unionByName(d1.withColumn("origin", lit("ingest1")))
        .unionByName(d2.withColumn("origin", lit("ingest2")))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"),
          col("offset_in_seq"), col("n_kept"), col("n_dropped"),
          col("origin"))
        .orderBy(col("doc_id"))
    }),

    // ---- FROZEN-vs-REFIT curriculum: the q193 frozen-model
    //      discipline applied to the curriculum thresholds — a release
    //      freezes its tercile cuts (reproducible schedules), so delta
    //      docs are phase-assigned with the BASE-trained thresholds;
    //      this card prices that freeze by also assigning them with
    //      REFIT (full-corpus) thresholds and counting the movers.
    //      Per phase: base docs, delta under frozen cuts, delta under
    //      refit cuts, and the delta docs that would change phase —
    //      the curriculum twin of q198's retrain trigger. Two 2-scalar
    //      threshold broadcasts; phase-cardinality output ----
    "q222_frozen_curriculum" -> ((s, d) => {
      val q = docQuality(s, d)
        .withColumn("is_delta", isDeltaDoc(col("doc_id")))
      val thB = sourceQuantiles(q.filter(!col("is_delta")),
          Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
          keys = Seq.empty, valueCol = "quality_score")
        .select(col("t1").as("b1"), col("t2").as("b2"))
      val thF = sourceQuantiles(q, Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
          keys = Seq.empty, valueCol = "quality_score")
        .select(col("t1").as("f1"), col("t2").as("f2"))
      def phaseOf(lo: Column, hi: Column): Column =
        when(col("quality_score") <= lo, 1L)
          .when(col("quality_score") <= hi, 2L).otherwise(3L)
      val staged = graft.util.Persist(q
        .crossJoin(broadcast(thB)).crossJoin(broadcast(thF))
        .withColumn("ph_frozen", phaseOf(col("b1"), col("b2")))
        .withColumn("ph_refit", phaseOf(col("f1"), col("f2"))))
      val byFrozen = staged.groupBy(col("ph_frozen").as("phase"))
        .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
          sum(when(col("is_delta"), 1L).otherwise(0L))
            .as("n_delta_frozen"),
          sum(when(col("is_delta") && col("ph_refit") =!= col("ph_frozen"),
            1L).otherwise(0L)).as("n_delta_moved"))
      val byRefit = staged.filter(col("is_delta"))
        .groupBy(col("ph_refit").as("phase"))
        .agg(count(lit(1)).as("n_delta_refit"))
      byFrozen.join(byRefit, Seq("phase"), "full_outer")
        .select(col("phase"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta_frozen"), lit(0L)).as("n_delta_frozen"),
          coalesce(col("n_delta_refit"), lit(0L)).as("n_delta_refit"),
          coalesce(col("n_delta_moved"), lit(0L)).as("n_delta_moved"))
        .orderBy(col("phase"))
    }),

    // ---- shard-manifest MAINTENANCE: q208's balance card over the
    //      q218 incremental manifest — released sequences keep their
    //      shard (the hash key (source, seq_id) never changes; delta
    //      sequences have NEW ids, so they only ADD rows), making the
    //      shard update append-only. Per shard: released vs newly-
    //      added sequences and tokens, and the growth fraction a
    //      shard-rebalance monitor watches ----
    "q223_shard_maintenance" -> ((s, d) => {
      def tok(df: DataFrame) = df.select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val docs = Tables.documents(s, d)
      val base = graft.util.Persist(
        ffdPack(tok(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val seq0 = base.groupBy(col("source"))
        .agg((max(col("seq_id")) + 1).as("s0"))
      val delta = ffdPack(tok(docs.filter(isDeltaDoc(col("doc_id")))))
        .join(seq0, Seq("source"), "left")
        .withColumn("seq_id", col("seq_id") + coalesce(col("s0"), lit(0L)))
        .drop("s0")
      def seqsOf(df: DataFrame) = df
        .groupBy(col("source"), col("seq_id"))
        .agg(sum(col("n_kept")).as("kept"))
        .withColumn("shard_id",
          pmod(conv(substring(md5(concat_ws(":", col("source"),
            col("seq_id").cast("string"))), 1, 1), 16, 10).cast("long"),
            lit(8L)))
      val rel = seqsOf(base).groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_seqs_released"),
          sum(col("kept")).as("kept_released"))
      val nw = seqsOf(delta).groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_seqs_new"), sum(col("kept")).as("kept_new"))
      rel.join(nw, Seq("shard_id"), "full_outer")
        .select(col("shard_id"),
          coalesce(col("n_seqs_released"), lit(0L)).as("n_seqs_released"),
          coalesce(col("n_seqs_new"), lit(0L)).as("n_seqs_new"),
          coalesce(col("kept_released"), lit(0L)).as("kept_released"),
          coalesce(col("kept_new"), lit(0L)).as("kept_new"),
          round(coalesce(col("kept_new"), lit(0L)).cast("double") /
            (coalesce(col("kept_released"), lit(0L)) +
             coalesce(col("kept_new"), lit(0L))), 6).as("new_frac"))
        .orderBy(col("shard_id"))
    }),

    // ---- STREAMING quota sampling: q211's per-cell min-8-by-content-
    //      hash is a MERGEABLE sketch (the global 8 smallest hashes of
    //      a cell are among the union of per-batch 8-smallest — the
    //      q186/q190 mergeable-summaries argument in sampling form),
    //      so the reservoir maintains itself incrementally: each
    //      micro-batch writes its own ≤8-rows-per-cell sketch plus
    //      additive cell counts, and the card re-ranks the merged
    //      sketches. Batch membership is arbitrary (repartition files,
    //      NO ordering harness needed — merge order cannot matter);
    //      the gate is q211's UNCHANGED oracle: stream ≡ batch card ----
    "q224_stream_quota" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q224_in_${CoreQueries.dirToken(d)}") { p =>
        docs.repartition(3).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q224_squota_")
      val skRoot = s"$dir/sk"; val cntRoot = s"$dir/cnt"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, docs.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val b = batch.toDF()
              .select(col("doc_id"), col("lang"), col("source"),
                size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
            val w = Window.partitionBy(col("lang"), col("source"))
              .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
            graft.streaming.Streaming.writeBatch(
              b.withColumn("rn", row_number().over(w))
                .filter(col("rn") <= 8)
                .select(col("doc_id"), col("lang"), col("source"),
                  col("n_tokens")), id, skRoot, append = true)
            graft.streaming.Streaming.writeBatch(
              b.groupBy(col("lang"), col("source"))
                .agg(count(lit(1)).as("n")), id, cntRoot, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val w2 = Window.partitionBy(col("lang"), col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val taken = s.read.parquet(skRoot)
        .withColumn("rn", row_number().over(w2)).filter(col("rn") <= 8)
      val elig = s.read.parquet(cntRoot).groupBy(col("lang"), col("source"))
        .agg(sum(col("n")).as("n_eligible"))
      taken.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_taken"),
          sum(col("n_tokens")).as("sample_tokens"),
          substring(md5(array_join(transform(
            sort_array(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")), 1, 16).as("sample_fp"))
        .join(elig, Seq("lang", "source"))
        .select(col("lang"), col("source"), col("n_eligible"),
          col("n_taken"),
          round(col("n_taken").cast("double") / col("n_eligible"), 6)
            .as("coverage"),
          col("sample_tokens"), col("sample_fp"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---- STREAMING packing maintenance: q221's chain executed as a
    //      real ordered ingest — the manifest as a maintained artifact
    //      (q218's immutability rule, q214's ordered-ingest harness).
    //      The released base fold persists as an artifact; each
    //      arriving micro-batch folds ITSELF (never the corpus),
    //      offsets its sequences past the maintained per-source max,
    //      and appends to the versioned manifest store. Gated on
    //      q221's UNCHANGED oracle: stream ≡ chained batch folds.
    //      Per-batch cost is the batch's own fold; the seq-counter
    //      read is source-cardinality ----
    "q225_stream_packing" -> ((s, d) => {
      def tok(df: DataFrame) = df.select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val docs = Tables.documents(s, d)
      val baseDir = CoreQueries.sharedInputDir(
        s"graft_q225_base_${CoreQueries.dirToken(d)}") { p =>
        ffdPack(tok(docs.filter(!isDeltaDoc(col("doc_id")))))
          .write.mode("overwrite").parquet(p)
      }
      val base = s.read.parquet(baseDir)
      val in = CoreQueries.sharedInputDir(
        s"graft_q225_in_${CoreQueries.dirToken(d)}") { p =>
        writeOrderedBatches(p, Seq(
          docs.filter(isDeltaDoc(col("doc_id")) &&
              isFirstIngest(col("doc_id")))
            .select(col("doc_id"), col("source"), col("text")),
          docs.filter(isDeltaDoc(col("doc_id")) &&
              !isFirstIngest(col("doc_id")))
            .select(col("doc_id"), col("source"), col("text"))))
      }
      val dir = CoreQueries.tempQueryDir("graft_q225_spack_")
      val mRoot = s"$dir/m"; val ck = s"$dir/ck"
      val inSchema = docs.select(col("doc_id"), col("source"), col("text"))
        .schema
      val stream = graft.streaming.Streaming.eventsStream(s, in, inSchema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val prior =
              if (id == 0L) base.select(col("source"), col("seq_id"))
              else base.select(col("source"), col("seq_id"))
                .unionByName(s.read.parquet(mRoot)
                  .filter(col("batch_id") < id)
                  .select(col("source"), col("seq_id")))
            val seq0 = prior.groupBy(col("source"))
              .agg((max(col("seq_id")) + 1).as("s0"))
            graft.streaming.Streaming.writeBatch(
              ffdPack(tok(batch.toDF()))
                .join(seq0, Seq("source"), "left")
                .withColumn("seq_id",
                  col("seq_id") + coalesce(col("s0"), lit(0L)))
                .drop("s0"), id, mRoot, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      base.withColumn("origin", lit("base"))
        .unionByName(s.read.parquet(mRoot)
          .withColumn("origin", when(col("batch_id") === 0, lit("ingest1"))
            .otherwise(lit("ingest2")))
          .drop("batch_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"),
          col("offset_in_seq"), col("n_kept"), col("n_dropped"),
          col("origin"))
        .orderBy(col("doc_id"))
    }),

    // ---- the RUN-ASSEMBLY capstone (q64's composition discipline for
    //      the loader side): curriculum phases (q209's frozen tercile
    //      cuts) → phase-pure FFD packing (q215's composite shards) →
    //      hash shard manifest (q208's rule), emitted as the per-
    //      (phase × shard) token-budget grid a multi-host curriculum
    //      run mounts. One quality scan + the per-shard fold + two
    //      bounded aggregates; every stage is an already-gated
    //      operator, composed ----
    "q226_release_assembly" -> ((s, d) => {
      val cf = curriculumFrame(s, d)
        .select(col("doc_id"),
          concat_ws(":", col("phase"), col("source")).as("source"),
          col("n_tokens"))
        .filter(col("n_tokens") > 0)
      ffdPack(cf)
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("nd"), sum(col("n_kept")).as("kept"))
        .withColumn("phase", split(col("source"), ":").getItem(0)
          .cast("long"))
        .withColumn("shard_id",
          pmod(conv(substring(md5(concat_ws(":", col("source"),
            col("seq_id").cast("string"))), 1, 1), 16, 10).cast("long"),
            lit(8L)))
        .groupBy(col("phase"), col("shard_id"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("nd")).as("n_docs"),
          sum(col("kept")).as("kept_tokens"))
        .select(col("phase"), col("shard_id"), col("n_seqs"), col("n_docs"),
          col("kept_tokens"),
          (col("n_seqs") * packBudget - col("kept_tokens"))
            .as("pad_tokens"))
        .orderBy(col("phase"), col("shard_id"))
    }),

    // ---- STREAMING decontamination monitor: q207's velocity card
    //      maintained per ingest — the held-split gram set persists as
    //      a release artifact (you know the eval set before the crawl
    //      arrives), each train micro-batch screens ITSELF against the
    //      broadcast held set and appends its additive per-rule-batch
    //      flag counts (batch-cardinality rows, nothing doc-
    //      proportional crosses batches). Counts are additive, so
    //      trigger membership is arbitrary (repartition files, no
    //      ordering harness); the gate is q207's UNCHANGED oracle:
    //      stream ≡ batch card ----
    "q227_stream_decon" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val heldDir = CoreQueries.sharedInputDir(
        s"graft_q227_held_${CoreQueries.dirToken(d)}") { p =>
        splitGrams(s, d).filter(col("hb") === "0")
          .select(col("gh")).distinct()
          .repartition(1).write.mode("overwrite").parquet(p)
      }
      val held = s.read.parquet(heldDir)
      val train = docs
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) =!= "0")
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q227_in_${CoreQueries.dirToken(d)}") { p =>
        train.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q227_sdecon_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, train.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            val b = batch.toDF()
            val perDoc = b.select(col("doc_id"),
                explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
              .join(broadcast(held), Seq("gh"))
              .groupBy(col("doc_id"))
              .agg(count(lit(1)).as("shared_grams"))
            // the card's key is named rule_batch INSIDE the store: the
            // K2 sink partitions by the TRIGGER id as batch_id=<id>,
            // and a data column of the same name would be clobbered by
            // partition discovery on read-back
            graft.streaming.Streaming.writeBatch(
              b.select(col("doc_id"),
                  pmod(conv(substring(md5(col("doc_id").cast("string")),
                    2, 1), 16, 10).cast("long"), lit(4L)).as("rule_batch"))
                .join(perDoc, Seq("doc_id"), "left")
                .groupBy(col("rule_batch"))
                .agg(count(lit(1)).as("n_docs"),
                  count(col("shared_grams")).as("n_flagged"),
                  coalesce(sum(col("shared_grams")), lit(0L))
                    .as("n_shared_grams")), id, out, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // writeBatch partitions by the TRIGGER id; the card's key is the
      // RULE batch (the first column) — re-aggregate the additive
      // counts across triggers
      s.read.parquet(out)
        .groupBy(col("rule_batch"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_flagged")).as("n_flagged"),
          sum(col("n_shared_grams")).as("n_shared_grams"))
        .select(col("rule_batch").as("batch_id"), col("n_docs"),
          col("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_docs"), 6)
            .as("flag_rate"),
          col("n_shared_grams"))
        .orderBy(col("batch_id"))
    }),

    // ---- the data-constrained WATER-FILL allocator: q210's curve
    //      says budgets past ~2× leave languages over the 4-epoch wall
    //      where repetition is near-worthless (Muennighoff et al.
    //      2023); this card REALLOCATES instead of just flagging — cap
    //      every language at 4 epochs and water-fill the budget over
    //      the uncapped ones proportional to their temperature weight.
    //      Round 16 replaced the fixed two-round staging with the
    //      EXACT fill (ADVICE r15: round 2 could push an uncapped
    //      language past the cap with the overshoot unreported): the
    //      capped set of a water-fill is a PREFIX of the languages
    //      sorted by cap/weight — which is ∝ n_tokens^0.3 here, i.e.
    //      simply by size, smallest first (temperature sampling
    //      over-allocates the tail) — so the fixpoint is one window
    //      pass: prefix sums of (cap, w), a language is capped iff
    //      w·(B − Cprev) ≥ cap·(1 − Wprev) AND every smaller language
    //      is too (prefix-min of the condition; Σw ≡ 1 by
    //      construction). No iteration, no round count, the cap
    //      invariant holds for ANY budget/distribution. The card
    //      SWEEPS budget multipliers {2, 3, 3.875, 4.5}× so all three
    //      regimes are visible: pure temperature allocation (2/3×, no
    //      caps), the partial fill (3.875× — binary-exact — caps the
    //      four tail languages, water-fills en, unallocated = 0), and
    //      saturation at 4.5×
    //      (cap total is 4×, every language hits the wall, the 0.5×
    //      residual is the "go buy more data" number). Lang-cardinality
    //      frame × 4 budget rows; one window + one lang-bounded
    //      aggregate join ----
    "q228_budget_waterfill" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"),
          size(TA.wsTokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
      waterFillAlloc(toks, Seq(2.0, 3.0, 3.875, 4.5))
        .orderBy(col("budget_x"), col("lang"))
    }),

    // ---- IVF-PQ RESIDUAL index — the production ANN layout still
    //      missing from the PQ family (VERDICT r15 #3) and the actual
    //      Jégou et al. deployment shape: one-Lloyd-trained coarse
    //      cells (q74's iteration, collected — 16×64 doubles), PQ
    //      codes over the RESIDUAL vec − centroid(cell) with a
    //      one-Lloyd residual codebook, ADC = exact coarse term
    //      q·centroid + residual LUT sum. The card is the (flat-PQ vs
    //      IVF-PQ) recall/cost comparison: both variants route on the
    //      SAME trained cells (identical candidate sets by
    //      construction — n_candidates says so), the flat leg scores
    //      q136's raw-trained codebook, so the recall delta is pure
    //      residual-encoding effect. Measured here: residual 0.153 vs
    //      flat 0.14 at sf0.01 — and with UNTRAINED coarse cells the
    //      residual leg would LOSE (0.04): residuals against random
    //      centroids are large, which is exactly why deployed IVF-PQ
    //      trains the coarse quantizer first. Truth side is the
    //      fenced exact-IP top-3 (q128's design). Cost shape: two
    //      scan-stage encodes + cell-keyed equi-joins; the trainings
    //      are memoized 1024-double artifacts ----
    "q229_ivfpq_residual" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = false)
      val flatCb = codebookMap(pqRefinedCodebook(s, d))
      val resCb = codebookMap(residRows)
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      def leg(name: String, residual: Boolean,
          cb: Map[Int, Seq[Seq[Double]]]) = {
        val ap = Similarity.ivfPqAdcTopKOn(q, emb, "vec_id", "embedding",
            k = 3, coarse, cb, residual)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(ap,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
          .select(lit(name).as("variant"), col("n_truth"), col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"))
      }
      val cand = Similarity.ivfCandidatePairsOn(q, emb, "vec_id",
          "embedding", coarse)
        .agg(count(lit(1)).as("n_candidates"))
      leg("flat_pq", residual = false, flatCb)
        .unionByName(leg("ivfpq_residual", residual = true, resCb))
        .crossJoin(broadcast(cand))
        .orderBy(col("variant"))
    }),

    // ---- TRAINING-ORDER manifest (VERDICT r15 #4): the mixture
    //      family computes weights (q205/q212/q228) and packing
    //      computes sequences (q195/q221), but a LOADER consumes an
    //      ORDER — this card emits it. Per packed sequence (q195's
    //      fold, sequence granularity): a seeded md5 draw fixes each
    //      source's internal shuffle, src_pos ranks within source,
    //      and the global order is the per-source ROUND-ROBIN
    //      (src_pos, source) — every source's k-th sequence before
    //      any source's (k+1)-th, so the mixture stays locally
    //      uniform however skewed the source sizes. shard_id is
    //      q208's rule; shard_offset is the global order restricted
    //      to the shard, so a loader reading shard files resumes
    //      from a (shard, offset) cursor. RESUMABILITY is by
    //      construction: the order is a pure function of the
    //      manifest — the suffix from any cursor's (src_pos, source)
    //      key equals the tail of the full order (Wave26Spec pins
    //      it). Scale note (VERDICT r16 #1): the manifest is |corpus
    //      tokens| / $packBudget rows — ~2 BILLION per trillion
    //      tokens — so the global rank must never be a total-order
    //      window; global_pos is the interleaveRank closed form
    //      (bounded span broadcast + scan arithmetic), shard_offset a
    //      window partitioned by the GRAFT_ORDER_SHARDS-parameterized
    //      shard id (sized at deploy time so a shard fits one task) ----
    "q230_training_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("draw"), col("seq_id"))
      // two consumers (the span frame + the ranked rows) — persist so
      // the packing fold runs once
      val seqs = graft.util.Persist(ffdPack(docs)
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_kept")).as("kept_tokens"))
        .withColumn("draw", substring(md5(concat_ws(":",
          lit("graft-order-v1"), col("source"),
          col("seq_id").cast("string"))), 1, 8))
        .withColumn("shard_id",
          pmod(conv(substring(md5(concat_ws(":", col("source"),
            col("seq_id").cast("string"))), 1, 1), 16, 10).cast("long"),
            lit(orderShards.toLong)))
        .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1))
      val spans = seqs.groupBy(col("source"))
        .agg(lit(0L).as("lo"), count(lit(1)).as("n"))
      val wShard = Window.partitionBy(col("shard_id"))
        .orderBy(col("src_pos"), col("source"))
      interleaveRank(seqs, spans)
        .withColumn("shard_offset",
          row_number().over(wShard).cast("long") - 1)
        .select(col("global_pos"), col("source"), col("seq_id"),
          col("shard_id"), col("shard_offset"), col("src_pos"),
          col("n_docs"), col("kept_tokens"), col("draw"))
        .orderBy(col("global_pos"))
    }),

    // ---- CHAINED-RELEASE water-fill (VERDICT r15 #6): q228 allocates
    //      one budget against one corpus; this card re-runs the EXACT
    //      fill as the corpus grows from the v1 slice (q165's base,
    //      ~13/16 by the md5 rule) to the full v2 corpus — the q212
    //      chaining discipline applied to the allocator. Budget fixed
    //      at the 3.875× partial regime (caps engaged, nothing
    //      saturated), so the chain shows the real release dynamics:
    //      every cap rises with its language's own growth, the
    //      uncapped head's fill rises with the total, and
    //      `alloc_growth` (v2 − v1 per language) is the per-release
    //      token delta a training plan absorbs. Monotonicity — no
    //      language's allocation drops when the corpus grows — is
    //      pinned by Wave26Spec (an empirical invariant of
    //      near-proportional growth: a sufficiently lopsided delta
    //      could in principle shrink a head language's water level).
    //      Two lang-cardinality fills + one broadcast self-join ----
    "q231_release_waterfill" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(TA.wsTokens(col("text"))).cast("long").as("nt"))
      def langFrame(df: DataFrame) = df.groupBy(col("lang"))
        .agg(sum(col("nt")).as("n_tokens")).filter(col("n_tokens") > 0)
      val v1 = waterFillAlloc(
        langFrame(toks.filter(!isDeltaDoc(col("doc_id")))), Seq(3.875))
      val v2 = waterFillAlloc(langFrame(toks), Seq(3.875))
      val prev = v1.select(col("lang"), col("final_alloc").as("prev_alloc"))
      val r1 = v1.select(lit("v1").as("release"), col("lang"),
        col("n_tokens"), col("w_a07"), col("final_alloc"),
        col("final_epochs"), col("capped"),
        lit(0.0).as("prev_alloc"), col("final_alloc").as("alloc_growth"))
      val r2 = v2.join(broadcast(prev), Seq("lang"), "left")
        .select(lit("v2").as("release"), col("lang"), col("n_tokens"),
          col("w_a07"), col("final_alloc"), col("final_epochs"),
          col("capped"),
          coalesce(col("prev_alloc"), lit(0.0)).as("prev_alloc"),
          round(col("final_alloc") - coalesce(col("prev_alloc"), lit(0.0)),
            2).as("alloc_growth"))
      r1.unionByName(r2).orderBy(col("release"), col("lang"))
    }),

    // ---- STREAMING IVF-PQ residual index maintenance: q137's
    //      append-only loop at the q229 rung — the residual-code
    //      index artifact kept current incrementally under FROZEN
    //      base-trained artifacts (q193's frozen-model discipline:
    //      coarse centroids and the residual codebook train ONCE on
    //      the base corpus; delta batches encode with those
    //      constants, never retrain). Base (~13/16 by the md5 rule)
    //      batch-builds the persisted (cell, id, residual-code)
    //      index; delta vectors arrive as a 4-micro-batch file
    //      stream, each batch appends its OWN rows through the
    //      idempotent batch_id-partitioned K2 sink — appending a
    //      batch costs |batch| × (16 + 128) small dots, independent
    //      of index size, no base join, no corpus rescan. The oracle
    //      replays base training + a FULL whole-corpus encode under
    //      the frozen artifacts, so the gate proves incremental
    //      maintenance ≡ rebuild-with-frozen-artifacts — the
    //      invariant that lets the q229 layout serve a 100 TB corpus
    //      that never stops ingesting ----
    "q232_stream_pq_index" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = true)
      val cb = codebookMap(residRows)
      val idxDir = CoreQueries.sharedInputDir(
        s"graft_q232_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndex(emb.filter(!isDeltaDoc(col("vec_id"))),
            "vec_id", "embedding", coarse, cb)
          .write.mode("overwrite").parquet(p)
      }
      val baseIdx = s.read.parquet(idxDir)
      val delta = emb.filter(isDeltaDoc(col("vec_id")))
        .select(col("vec_id"), col("embedding"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q232_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q232_spq_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            graft.streaming.Streaming.writeBatch(
              Similarity.ivfPqResidualIndex(batch.toDF(), "vec_id",
                "embedding", coarse, cb), id, out, append = true)
          }.start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("cell"), col("id"), col("code"))
        .withColumn("src", lit("delta"))
        .unionByName(baseIdx.select(col("cell"), col("id"), col("code"))
          .withColumn("src", lit("base")))
        .select(col("cell"), col("id").as("vec_id"),
          // list columns crash the driver's pandas sort (q137's
          // discipline) — render the m-byte code as CSV
          array_join(transform(col("code"), _.cast("string")), ",")
            .as("code"), col("src"))
        .orderBy(col("vec_id"))
    }),

    // ---- ORDER-MANIFEST APPEND across releases: q230 emits a run's
    //      order, but its round-robin rank is NOT stable under corpus
    //      growth (new sequences would shift every src_pos) — and a
    //      loader mid-run must NEVER see a released position move.
    //      This card applies the q218/q223 released-rows-are-immutable
    //      discipline to the ORDER: the v1 release (base slice,
    //      packed alone) keeps every (src_pos, global_pos,
    //      shard_offset) it shipped with; the delta ingest packs its
    //      own fold with seq ids offset past the released per-source
    //      max, and its sequences take positions offset past the
    //      released counts — per-source, per-shard, and global, so a
    //      loader that consumed v1 to completion resumes at cursor
    //      |v1| and reads ONLY appended rows. The appended block
    //      interleaves by the same (absolute src_pos, source)
    //      round-robin. Cursor state = three count frames (source /
    //      shard / total — all bounded), broadcast onto the delta
    //      fold ----
    "q233_order_append" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def tok(df: DataFrame) = df.select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val docs = Tables.documents(s, d)
      val base = graft.util.Persist(
        ffdPack(tok(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val seq0 = base.groupBy(col("source"))
        .agg((max(col("seq_id")) + 1).as("seq0"))
      val delta = ffdPack(tok(docs.filter(isDeltaDoc(col("doc_id")))))
        .join(seq0, Seq("source"), "left")
        .withColumn("seq_id", col("seq_id") + coalesce(col("seq0"), lit(0L)))
        .drop("seq0")
      def seqs(df: DataFrame) = df.groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_kept")).as("kept_tokens"))
        .withColumn("draw", substring(md5(concat_ws(":",
          lit("graft-order-v1"), col("source"),
          col("seq_id").cast("string"))), 1, 8))
        .withColumn("shard_id",
          pmod(conv(substring(md5(concat_ws(":", col("source"),
            col("seq_id").cast("string"))), 1, 1), 16, 10).cast("long"),
            lit(orderShards.toLong)))
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("draw"), col("seq_id"))
      val wShard = Window.partitionBy(col("shard_id"))
        .orderBy(col("src_pos"), col("source"))
      // multiple consumers of the released manifest (rows + span and
      // cursor-state count frames) — persist so the fold runs once.
      // global_pos is the interleaveRank closed form on BOTH blocks
      // (VERDICT r16 #1) — no total-order window anywhere
      val relBase = graft.util.Persist(seqs(base)
        .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1))
      val relSpans = relBase.groupBy(col("source"))
        .agg(lit(0L).as("lo"), count(lit(1)).as("n"))
      val rel = interleaveRank(relBase, relSpans)
        .withColumn("shard_offset",
          row_number().over(wShard).cast("long") - 1)
      val srcCnt = relBase.groupBy(col("source")).agg(count(lit(1)).as("sc"))
      val shCnt = relBase.groupBy(col("shard_id")).agg(count(lit(1)).as("hc"))
      val tot = relBase.agg(count(lit(1)).as("tc"))
      // appended block: absolute src_pos = released count + local
      // rank, so its span frame reads straight off the offset rows
      // (lo = min absolute position = the released per-source count)
      val appBase = graft.util.Persist(seqs(delta)
        .join(broadcast(srcCnt), Seq("source"), "left")
        .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1
          + coalesce(col("sc"), lit(0L)))
        .drop("sc"))
      val appSpans = appBase.groupBy(col("source"))
        .agg(min(col("src_pos")).as("lo"), count(lit(1)).as("n"))
      val app = interleaveRank(appBase, appSpans)
        .crossJoin(broadcast(tot))
        .withColumn("global_pos", col("global_pos") + col("tc"))
        .drop("tc")
        .join(broadcast(shCnt), Seq("shard_id"), "left")
        .withColumn("shard_offset", row_number().over(wShard).cast("long")
          - 1 + coalesce(col("hc"), lit(0L)))
        .drop("hc")
      rel.withColumn("origin", lit("released"))
        .unionByName(app.withColumn("origin", lit("appended")))
        .select(col("global_pos"), col("source"), col("seq_id"),
          col("shard_id"), col("shard_offset"), col("src_pos"),
          col("n_docs"), col("kept_tokens"), col("draw"), col("origin"))
        .orderBy(col("global_pos"))
    }),

    // ---- IVF-PQ index STALENESS: q213's question asked of the q232
    //      maintained index — what does serving the STALE base-only
    //      rows cost, and does appending the delta rows recover it?
    //      Same frozen base-trained artifacts on both sides (the
    //      recall delta is pure index CONTENT, never training or
    //      routing), same fenced exact-IP truth over the FULL corpus
    //      (truth includes delta vectors by construction — exactly
    //      what a stale index cannot return). The maintained side is
    //      base ∪ delta-encoded rows, value-identical to q232's
    //      streamed artifact by its own gate. Scoring reads ONLY
    //      index rows (the ivfPqAdcTopKIndex query path — coarse dot
    //      + m LUT lookups per candidate); raw vectors appear solely
    //      in the fenced truth side ----
    "q234_pq_staleness" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = true)
      val cb = codebookMap(residRows)
      val stale = graft.util.Persist(
        Similarity.ivfPqResidualIndex(emb.filter(!isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", coarse, cb))
      val maintained = stale.unionByName(
        Similarity.ivfPqResidualIndex(emb.filter(isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", coarse, cb))
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      def joined(idx: DataFrame) = {
        val ap = Similarity.ivfPqAdcTopKIndex(q, idx, "vec_id", "embedding",
            k = 3, coarse, cb)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(ap,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
      }
      val sh = joined(stale).groupBy(col("q_id"))
        .agg(count(col("a_n")).as("stale_hits"))
      // the DECOMPOSITION makes both staleness phenomena first-class
      // (a plain gain nets them against each other — on this fixture
      // to exactly zero): maint_delta_hits is the recovery (truth
      // slots the stale index CANNOT return — its rows don't contain
      // delta ids), crowded_out is the price (base-truth hits pushed
      // below rank 3 by the new rows; a superset of candidates can
      // only push a base hit DOWN, so maint_hits − maint_delta_hits
      // ≤ stale_hits is a theorem, spec-pinned)
      val mh = joined(maintained).groupBy(col("q_id"))
        .agg(count(col("a_n")).as("maint_hits"),
          count(when(isDeltaDoc(col("a_n")), lit(1))).as("maint_delta_hits"),
          count(when(isDeltaDoc(col("n_id")), lit(1))).as("n_truth_delta"))
      sh.join(mh, Seq("q_id"))
        .select(col("q_id"), col("n_truth_delta"), col("stale_hits"),
          col("maint_hits"), col("maint_delta_hits"),
          (col("stale_hits") - (col("maint_hits") - col("maint_delta_hits")))
            .as("crowded_out"),
          round(col("stale_hits").cast("double") / 3.0, 6)
            .as("stale_recall"),
          round(col("maint_hits").cast("double") / 3.0, 6)
            .as("maint_recall"),
          (col("maint_hits") - col("stale_hits")).as("gain"))
        .orderBy(col("q_id"))
    }),

    // ---- IVF-PQ OPERATING-POINT sweep: q216's probe-budget card at
    //      the residual-index rung — per nProbe ∈ {1, 2, 4, 8, 16},
    //      the candidate mass scanned (the cost the probe budget
    //      buys) and recall@3 against the fenced exact-IP truth,
    //      everything scored off the INDEX rows (coarse dot + m LUT
    //      lookups — the deployed query path, never a raw corpus
    //      vector). One query-side assignment (keep = 16, cell rank
    //      retained) and ONE candidate/ADC pass; each level is a
    //      crank filter + its own rank window. The card a deployment
    //      reads to set the residual index's nProbe at the knee ----
    "q235_ivfpq_operating_point" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = false)
      val cb = codebookMap(residRows)
      val idx = Similarity.ivfPqResidualIndex(emb, "vec_id", "embedding",
        coarse, cb)
      val probes = Seq(1, 2, 4, 8, 16)
      val swept = Similarity.ivfPqProbeSweep(q, idx, "vec_id", "embedding",
        k = 3, coarse, cb, probes)
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      val ap = swept.select(col("n_probe").as("a_p"), col("q_id").as("a_q"),
        col("n_id").as("a_n"))
      val pr = probes.map(p => s.range(1).select(lit(p.toLong).as("n_probe")))
        .reduce(_ unionByName _)
      val rec = pr.crossJoin(exact)
        .join(ap, col("n_probe") === col("a_p") &&
          col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
        .groupBy(col("n_probe"))
        .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
      val cost = Similarity.ivfPqProbeCosts(q, idx, "vec_id", "embedding",
        coarse, probes)
      rec.join(cost, Seq("n_probe"))
        .select(col("n_probe"), col("n_candidates"), col("n_truth"),
          col("n_found"),
          when(col("n_truth") === 0, 0.0)
            .otherwise(round(col("n_found").cast("double") /
              col("n_truth"), 6)).as("recall_at_3"))
        .orderBy(col("n_probe"))
    }),

    // ---- the MIXTURE-APPLIED training order (VERDICT r16 #2): q230
    //      interleaves uniformly — no card yet emitted the order a
    //      loader consumes under the COMMITTED mixture. This one
    //      composes three gated operators into that manifest:
    //      (a) the q228 exact water-fill, source-keyed at the 2.0×
    //      budget, commits per-source epochs e_s (≈2, fractions
    //      engaged, nothing capped on this fixture); (b) q209/q215's
    //      frozen tercile phases make packing PHASE-PURE, and phase
    //      blocks concatenate low→high quality (boundaries respected:
    //      a phase never interleaves into another); (c) within each
    //      phase, each source emits ⌊e_s⌋ FULL passes plus a partial
    //      pass of ⌊round(frac·n_ps, 6)⌋ sequences — every epoch
    //      reshuffled by its OWN seeded draw (repeated sequences,
    //      distinct draws), the partial pass taking its epoch's draw
    //      prefix (the sample_frac). The interleave is the WEIGHTED
    //      closed form (weightedInterleaveRank): rows ordered by
    //      position fraction, so per-source spacing ∝ 1/weight and
    //      any prefix's per-source share tracks the committed share
    //      (Wave28Spec pins the ≤ |sources| item bound). No
    //      total-order window anywhere — spans broadcast + scan
    //      arithmetic, phase offsets a 3-row frame ----
    "q236_mixture_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("source"),
          size(TA.wsTokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val fill = waterFillAlloc(
          toks.select(col("source").as("lang"), col("n_tokens")), Seq(2.0))
        .select(col("lang").as("source"), col("final_epochs"))
      val cf = curriculumFrame(s, d)
        .select(col("doc_id"),
          concat_ws(":", col("phase"), col("source")).as("source"),
          col("n_tokens"))
        .filter(col("n_tokens") > 0)
      val seqs = ffdPack(cf)
        .groupBy(col("source"), col("seq_id"))
        .agg(sum(col("n_kept")).as("kept_tokens"))
        .select(split(col("source"), ":").getItem(0).cast("long").as("phase"),
          split(col("source"), ":").getItem(1).as("source"),
          col("seq_id"), col("kept_tokens"))
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
      // spans + dn join + ranked rows all read this frame — one fold
      val rows = graft.util.Persist(
        seqs.join(broadcast(ep), Seq("phase", "source"))
          .withColumn("epoch", explode(sequence(lit(0L), col("fe"))))
          .withColumn("draw", substring(md5(concat_ws(":",
            lit("graft-order-v2"), col("epoch").cast("string"),
            col("phase").cast("string"), col("source"),
            col("seq_id").cast("string"))), 1, 8))
          .withColumn("er", row_number().over(wEp).cast("long"))
          .filter(col("epoch") < col("fe") || col("er") <= col("n_part"))
          .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1)
          .select(col("phase"), col("source"), col("seq_id"), col("epoch"),
            col("kept_tokens"), col("draw"), col("src_pos")))
      val spans = rows.groupBy(col("phase"), col("source"))
        .agg(count(lit(1)).as("n"))
      // phase offsets: phase-cardinality-bounded window (q209's shape)
      val wPh = Window.orderBy(col("phase"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val phOff = spans.groupBy(col("phase")).agg(sum(col("n")).as("np"))
        .withColumn("poff", coalesce(sum(col("np")).over(wPh), lit(0L)))
        .select(col("phase"), col("poff"))
      weightedInterleaveRank(
          rows.join(broadcast(spans.withColumnRenamed("n", "dn")),
            Seq("phase", "source")),
          spans)
        .join(broadcast(phOff), Seq("phase"))
        .select((col("phase_pos") + col("poff")).as("global_pos"),
          col("phase"), col("source"), col("seq_id"), col("epoch"),
          col("src_pos"), col("kept_tokens"), col("draw"))
        .orderBy(col("global_pos"))
    }),

    // ---- OPQ at the RESIDUAL rung (VERDICT r16 #3): q184 proved the
    //      variance-balanced layout on FLAT codes; q229's residual
    //      index still encodes under the identity layout. This card
    //      threads the [[Similarity.balancedLayout]] permutation
    //      through the residual encode + ADC query path
    //      (ivfPqAdcTopKOnPerm) and gates residual-OPQ against
    //      residual-identity on the anisotropic rehearsal fixture —
    //      with the layout dealt from the RESIDUAL frame's variances
    //      (what the codebook actually spans), not the raw corpus's.
    //      Same trained coarse cells on both legs → identical
    //      candidates (q229's routing argument), so the recall and
    //      per-subspace-MSE deltas are pure quantization geometry.
    //      resid_mse is the explicit 8-term ordered sum of per-sub
    //      MSEs (pqTermPivot's fold discipline). Codebooks/centroids
    //      are bounded collected literals; the one heavy scan is the
    //      fenced 50×corpus exact-IP truth side, persisted across
    //      both legs ----
    "q237_residual_opq" -> ((s, d) => {
      val aniso = anisoEmb(s, d)
      val q = aniso.filter(col("vec_id") < 50)
      val (coarse, balanced) = anisoResidualBase(s, d)
      val identity: Seq[Int] = 0 until 64
      val rf = graft.util.Persist(
        residualFrameOf(aniso, coarse, vecCol = "vec"))
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, aniso, "vec_id", "vec", k = 3)
          .select(col("q_id"), col("n_id")))
      def leg(name: String, perm: Seq[Int]) = {
        val rows = anisoResidualCb(s, d, name, perm)
        val cb = codebookMap(rows)
        val ap = Similarity.ivfPqAdcTopKOnPerm(q, aniso, "vec_id", "vec",
            k = 3, coarse, cb, perm)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        val rec = exact.join(ap,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
        val mse = Similarity.pqPermMse(rf, "vec_id", "resid", perm, rows)
          .agg(max(when(col("sub") === 0, col("mse"))).as("m0"),
            (1 until 8).map(i =>
              max(when(col("sub") === i, col("mse"))).as(s"m$i")): _*)
          .select(round((0 until 8).map(i => col(s"m$i"))
            .reduce(_ + _), 6).as("resid_mse"))
        rec.crossJoin(broadcast(mse))
          .select(lit(name).as("layout"), col("n_truth"), col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"),
            col("resid_mse"))
      }
      leg("identity", identity).unionByName(leg("balanced", balanced))
        .orderBy(col("layout"))
    }),

    // ---- the RESIDUAL-CODEBOOK RETRAIN TRIGGER (VERDICT r16 #4):
    //      q232/q234 freeze the base-trained IVF-PQ artifacts
    //      forever — this card closes the frozen-artifact loop with
    //      its q198-style drift decision. Monitor = per-subspace
    //      encode MSE (q129's currency) under the FROZEN base-trained
    //      coarse cells + residual codebook, measured on three
    //      slices: `base` (the training population — the reference),
    //      `delta` (the md5 incoming slice, same distribution →
    //      ratio ≈ 1, decision KEEP), and `shifted` (the same delta
    //      after encoder drift — the aniso rehearsal's dims-0-7 ×4
    //      rule — where the frozen codebook's cells and centroids no
    //      longer span the energy → ratio blows past the threshold,
    //      decision RETRAIN). The trigger is ENGAGED on the fixture,
    //      not just plumbed (the q175/q178 discipline). frozen_mse is
    //      the ordered 8-term per-sub sum (q237's fold); threshold
    //      1.25 on round(mse/base_mse, 6). Artifacts are memoized
    //      bounded literals; each slice costs one assignment + one
    //      encode pass ----
    "q238_pq_retrain" -> ((s, d) => {
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = true)
      val (base, delta, shifted) = driftSlices(s, d)
      val identity: Seq[Int] = 0 until 64
      def mseOf(df: DataFrame) = Similarity
        .pqPermMse(residualFrameOf(df, coarse), "vec_id", "resid",
          identity, residRows)
        .agg(max(col("n_vecs")).as("n_vecs"),
          (0 until 8).map(i =>
            max(when(col("sub") === i, col("mse"))).as(s"m$i")): _*)
        .select(col("n_vecs"), round((0 until 8).map(i => col(s"m$i"))
          .reduce(_ + _), 6).as("frozen_mse"))
      val b = graft.util.Persist(mseOf(base))
      def row(name: String, x: DataFrame) =
        x.select(lit(name).as("slice"), col("n_vecs"), col("frozen_mse"))
      row("base", b)
        .unionByName(row("delta", mseOf(delta)))
        .unionByName(row("shifted", mseOf(shifted)))
        .crossJoin(broadcast(b.select(col("frozen_mse").as("base_mse"))))
        .select(col("slice"), col("n_vecs"), col("frozen_mse"),
          round(col("frozen_mse") / col("base_mse"), 6).as("mse_ratio"),
          when(round(col("frozen_mse") / col("base_mse"), 6) > 1.25, 1L)
            .otherwise(0L).as("retrain"))
        .orderBy(col("slice"))
    }),

    // ---- CHAINED IVF-PQ index ingest (VERDICT r16 #6): q234 prices
    //      ONE release of staleness; this card applies the q142/q171
    //      chaining discipline to the q232 maintained index — TWO
    //      delta ingests against the same frozen base-trained
    //      artifacts (delta1 = md5 '0', delta2 = md5 '1'/'2'), each
    //      appended without touching released rows: v1 = the q232
    //      released base-index artifact (scanned, not rebuilt), v2 =
    //      v1 ∪ encode(delta1), v3 = v2 ∪ encode(delta2). Because the
    //      frozen-artifact encode is per-row deterministic, append is
    //      ASSOCIATIVE across releases — v3 must equal the one-shot
    //      full rebuild row-for-row, and its restriction to the v2
    //      population must equal v2's own rebuild (Wave28Spec pins
    //      both against q232's maintained index). Output is the q232
    //      oracle shape with the chain step in `src` ----
    "q239_pq_index_chain" -> ((s, d) => {
      def firstHex(c: Column): Column =
        substring(md5(c.cast("string")), 1, 1)
      val emb = Tables.embeddings(s, d)
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = true)
      val cb = codebookMap(residRows)
      // the SAME released artifact q232 maintains (shared dir)
      val idxDir = CoreQueries.sharedInputDir(
        s"graft_q232_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndex(
            emb.filter(!firstHex(col("vec_id")).isin("0", "1", "2")),
            "vec_id", "embedding", coarse, cb)
          .write.mode("overwrite").parquet(p)
      }
      val v1 = s.read.parquet(idxDir).withColumn("src", lit("base"))
      def ingest(name: String, pred: Column) =
        Similarity.ivfPqResidualIndex(emb.filter(pred), "vec_id",
            "embedding", coarse, cb)
          .withColumn("src", lit(name))
      val v2 = v1.unionByName(
        ingest("delta1", firstHex(col("vec_id")) === "0"))
      val v3 = v2.unionByName(
        ingest("delta2", firstHex(col("vec_id")).isin("1", "2")))
      v3.select(col("cell"), col("id").as("vec_id"),
          array_join(transform(col("code"), _.cast("string")), ",")
            .as("code"), col("src"))
        .orderBy(col("vec_id"))
    }),

    // ---- the RETRAIN REMEDIATION LADDER (q238's trigger → its
    //      ACTION): once the drifted slice fires the retrain
    //      decision, what does each remediation step actually buy?
    //      Three regimes score the SAME drifted slice, each MSE
    //      ratio'd against the base-frozen reference: `frozen` (the
    //      stale artifacts — q238's firing row, ~4.1×), `retrained`
    //      (coarse + identity codebook re-trained on the post-drift
    //      corpus base ∪ shifted — one Lloyd step recovers part of
    //      the gap), `retrained_opq` (the q237 layout step applied at
    //      retrain time: balanced layout from the post-drift residual
    //      variances — recovers more). The ladder is strictly
    //      monotone on the fixture (numpy-prototyped 4.1 → 3.3 →
    //      2.7) but never returns to 1: the drifted distribution is
    //      INTRINSICALLY harder at 8 bytes/vector — the honest story
    //      a capacity decision needs (re-train fixes staleness, not
    //      hardness). Training artifacts memoized bounded collects;
    //      each row costs one assignment + one encode pass ----
    "q240_pq_retrain_ladder" -> ((s, d) => {
      val (fCoarse, fRows) = ivfPqTrained(s, d, baseOnly = true)
      val (base, _, shifted) = driftSlices(s, d)
      val (rCoarse, perm, cbId, cbOp) = driftRetrained(s, d)
      val identity: Seq[Int] = 0 until 64
      def mse8(df: DataFrame, coarse: Seq[(Int, Seq[Double])],
          p: Seq[Int], rows: Seq[(Int, Int, Seq[Double])]) = Similarity
        .pqPermMse(residualFrameOf(df, coarse), "vec_id", "resid", p, rows)
        .agg(max(col("n_vecs")).as("n_vecs"),
          (0 until 8).map(i =>
            max(when(col("sub") === i, col("mse"))).as(s"m$i")): _*)
        .select(col("n_vecs"), round((0 until 8).map(i => col(s"m$i"))
          .reduce(_ + _), 6).as("shifted_mse"))
      val baseRef = mse8(base, fCoarse, identity, fRows)
        .select(col("shifted_mse").as("base_mse"))
      def row(regime: String, x: DataFrame) =
        x.select(lit(regime).as("regime"), col("n_vecs"),
          col("shifted_mse"))
      row("frozen", mse8(shifted, fCoarse, identity, fRows))
        .unionByName(row("retrained", mse8(shifted, rCoarse, identity, cbId)))
        .unionByName(
          row("retrained_opq", mse8(shifted, rCoarse, perm, cbOp)))
        .crossJoin(broadcast(baseRef))
        .select(col("regime"), col("n_vecs"), col("shifted_mse"),
          round(col("shifted_mse") / col("base_mse"), 6).as("mse_ratio"))
        .orderBy(col("regime"))
    }),

    // ---- the MIXTURE-ORDER APPEND CONTRACT (VERDICT r17 #2): q233
    //      freezes released positions for the UNIFORM interleave;
    //      q236 emits the weighted mixture order but had no
    //      corpus-growth story — a loader mid-run through the
    //      COMMITTED mixture had no released-position-freeze
    //      guarantee. This card composes the two: EVERYTHING the v1
    //      release committed is FROZEN (the q193/q232 frozen-artifact
    //      discipline applied to the ORDER) — the tercile thresholds
    //      (computed on v1 quality scores), the water-fill epochs
    //      (the committed mixture, filled on v1 token counts at the
    //      q236 2.0× budget), and every released (src_pos,
    //      global_pos) verbatim. The delta ingest classifies its docs
    //      under the FROZEN thresholds, packs its own fold with seq
    //      ids offset past the released per-(phase, source) max
    //      (q233's cursor discipline at the composite key), replays
    //      the FROZEN epochs on its own sequence counts, and
    //      interleaves as its OWN weighted-geometry block — fractions
    //      are relative to a block's n, so the appended block
    //      realizes the committed mixture ON THE GROWTH, phase blocks
    //      low→high among themselves, positioned after ALL released
    //      rows. A loader that consumed v1 to completion resumes at
    //      cursor |v1| and reads ONLY appended rows (absolute
    //      src_pos continues per (phase, source) for the per-source
    //      cursor). No total-order window anywhere: both blocks rank
    //      through weightedInterleaveRank's DECIMAL-widened closed
    //      form; cursor state = bounded count frames, broadcast ----
    "q241_mixture_append" -> ((s, d) => {
      val isD = isDeltaDoc(col("doc_id"))
      // FROZEN v1 artifacts: thresholds + the committed mixture
      val q = docQuality(s, d)
      val th = sourceQuantiles(q.filter(!isD),
          Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
          keys = Seq.empty, valueCol = "quality_score")
        .select(col("t1"), col("t2"))
      val fill = waterFillAlloc(
          Tables.documents(s, d).filter(!isD)
            .select(col("source"),
              size(TA.wsTokens(col("text"))).cast("long").as("nt"))
            .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
            .filter(col("n_tokens") > 0)
            .select(col("source").as("lang"), col("n_tokens")), Seq(2.0))
        .select(col("lang").as("source"), col("final_epochs"))
      // every doc phased under the FROZEN v1 thresholds
      val nt = Tables.documents(s, d).select(col("doc_id"),
        size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
      // persisted (round 18): the chained ffdPack folds each replay
      // the quality-score + tokenize lineage otherwise (guide §5)
      val ph = graft.util.Persist(
        q.join(nt, Seq("doc_id")).crossJoin(broadcast(th))
        .withColumn("phase",
          when(col("quality_score") <= col("t1"), 1L)
            .when(col("quality_score") <= col("t2"), 2L)
            .otherwise(3L))
        .select(col("doc_id"),
          concat_ws(":", col("phase"), col("source")).as("source"),
          col("n_tokens"))
        .filter(col("n_tokens") > 0))
      // FUSED chain (round 19): one pack under the origin-composite
      // key + closed-form cursors — row-identical to the released/
      // appended two-step fold by [[chainedMixtureOrder]]'s argument
      // (Wave32Spec pins it against the inlined old fold)
      chainedMixtureOrder(ph, fill,
        Seq(("released", !isD), ("appended", isD)))
    }),

    // ---- STREAMING IVF-PQ maintenance under the FROZEN OPQ LAYOUT
    //      (VERDICT r17 #3): q232/q239 freeze and append under the
    //      IDENTITY layout while q237/q240 prove the variance-
    //      balanced layout wins at the residual rung — so the
    //      deployed frozen-artifact bundle must CARRY the
    //      permutation. Same loop as q232 (base batch-build of the
    //      persisted index, 4-micro-batch delta file stream, each
    //      batch appended through the idempotent batch_id-partitioned
    //      K2 sink), but the bundle is (coarse, perm, codebook):
    //      the layout is dealt ONCE from the BASE residual variances
    //      and the codebook trained under it on the base residuals
    //      ([[ivfPqOpqTrained]]); every append batch gathers
    //      subspaces through the SAME frozen perm, or its codes
    //      would desynchronize from the codebook. The oracle replays
    //      base training + the layout deal + a FULL whole-corpus
    //      encode under the frozen bundle — maintenance ≡ rebuild
    //      with the permutation carried ----
    "q242_stream_opq_index" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (coarse, perm, cbRows) = ivfPqOpqTrained(s, d)
      val cb = codebookMap(cbRows)
      val idxDir = CoreQueries.sharedInputDir(
        s"graft_q242_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndexPerm(
            emb.filter(!isDeltaDoc(col("vec_id"))),
            "vec_id", "embedding", coarse, cb, perm)
          .write.mode("overwrite").parquet(p)
      }
      val baseIdx = s.read.parquet(idxDir)
      val delta = emb.filter(isDeltaDoc(col("vec_id")))
        .select(col("vec_id"), col("embedding"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q242_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q242_sopq_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = graft.streaming.Streaming.eventsStream(s, in, delta.schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val qy = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
            graft.streaming.Streaming.writeBatch(
              Similarity.ivfPqResidualIndexPerm(batch.toDF(), "vec_id",
                "embedding", coarse, cb, perm), id, out, append = true)
          }.start()
        try qy.processAllAvailable() finally qy.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(out)
        .select(col("cell"), col("id"), col("code"))
        .withColumn("src", lit("delta"))
        .unionByName(baseIdx.select(col("cell"), col("id"), col("code"))
          .withColumn("src", lit("base")))
        .select(col("cell"), col("id").as("vec_id"),
          array_join(transform(col("code"), _.cast("string")), ",")
            .as("code"), col("src"))
        .orderBy(col("vec_id"))
    }),

    // ---- ADC+R exact re-rank (VERDICT r17 #4): IVF and LSH re-rank
    //      their candidates exactly; the IVF-PQ path returned raw ADC
    //      order. This card adds the standard two-stage (IVFADC+R):
    //      ADC shortlist of k′ = 10 > k = 3 from the compressed
    //      codes, then the EXACT inner product on only the
    //      shortlist's raw vectors, re-ranked to the final top-3 —
    //      gated against the pure-ADC leg on the aniso rehearsal
    //      fixture under the IDENTITY residual codebook (where the
    //      quantization gap is widest — q237's 0.11 recall leg), so
    //      the recovery the rerank buys is measurable and engaged.
    //      Cost shape: the shortlist is |Q| × k′ rows (bounded,
    //      broadcast), the raw gather ONE id-keyed join scan, the
    //      exact dots |Q| × k′ — shortlist-bounded, never a second
    //      candidate fan-out. Same trained coarse cells on both legs
    //      → identical candidates; the delta is pure re-scoring ----
    "q243_adc_rerank" -> ((s, d) => {
      val aniso = anisoEmb(s, d)
      val q = aniso.filter(col("vec_id") < 50)
      val (coarse, _) = anisoResidualBase(s, d)
      val identity: Seq[Int] = 0 until 64
      val cb = codebookMap(anisoResidualCb(s, d, "identity", identity))
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, aniso, "vec_id", "vec", k = 3)
          .select(col("q_id"), col("n_id")))
      def leg(name: String, kShort: Long, ap: DataFrame) = {
        val a = ap.select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(a,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
          .select(lit(name).as("leg"), lit(kShort).as("k_short"),
            col("n_truth"), col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"))
      }
      val adc = Similarity.ivfPqAdcTopKOnPerm(q, aniso, "vec_id", "vec",
        k = 3, coarse, cb, identity)
      val rr = Similarity.ivfPqAdcRerankTopK(q, aniso, "vec_id", "vec",
        k = 3, kShort = 10, coarse, cb, identity)
      leg("adc", 3L, adc).unionByName(leg("adc_rerank", 10L, rr))
        .orderBy(col("leg"))
    }),

    // ---- TOMBSTONES for the packed/order manifest (VERDICT r17 #7):
    //      q219 proves deletion maintenance for the cell index; the
    //      packing/order family had no delete story — a doc dropped
    //      post-release (takedown, licensing, PII) left its tokens in
    //      released sequences forever. The remedy mirrors released-
    //      rows-are-immutable: positions NEVER move (global_pos /
    //      shard_offset / src_pos are q230's verbatim — a loader's
    //      cursor survives the deletion); instead the tombstoned
    //      doc's (offset_in_seq, n_kept) spans are MASKED in the
    //      manifest — the loader skips masked spans at read time (the
    //      q180 span-excision discipline applied to the packed
    //      artifact). Output per released sequence: the unchanged
    //      order row + n_masked_docs / masked_tokens / live_tokens
    //      and the masked-span fingerprint (md5 of the ordered
    //      offset:len list — pins the EXACT spans, not just counts),
    //      plus per-shard loss accounting (the shard-window sums a
    //      capacity plan reads). Conservation — masked + live = kept,
    //      per row and per shard — is Wave29Spec-pinned. Tombstone
    //      rule: md5 first hex 'f' (~1/16 of docs), orthogonal to the
    //      0/1/2 delta rule so the two lifecycles compose ----
    "q244_order_tombstones" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val tomb = substring(md5(col("doc_id").cast("string")), 1, 1) === "f"
      // the q230 sequence frame + the per-sequence mask accounting in
      // ONE aggregate over the packing fold (offset_in_seq/n_kept are
      // exactly the span a tombstone masks)
      val seqs = graft.util.Persist(ffdPack(docs)
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_kept")).as("kept_tokens"),
          count(when(tomb, lit(1))).as("n_masked_docs"),
          coalesce(sum(when(tomb, col("n_kept"))), lit(0L))
            .as("masked_tokens"),
          substring(md5(concat_ws(",", transform(
            sort_array(collect_list(when(tomb,
              struct(col("offset_in_seq").as("o"), col("n_kept").as("t"))))),
            x => concat_ws(":", x.getField("o"), x.getField("t"))))), 1, 16)
            .as("masked_spans_fp"))
        .withColumn("draw", substring(md5(concat_ws(":",
          lit("graft-order-v1"), col("source"),
          col("seq_id").cast("string"))), 1, 8))
        .withColumn("shard_id",
          pmod(conv(substring(md5(concat_ws(":", col("source"),
            col("seq_id").cast("string"))), 1, 1), 16, 10).cast("long"),
            lit(orderShards.toLong)))
        .withColumn("src_pos", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("draw"), col("seq_id"))).cast("long") - 1))
      val spans = seqs.groupBy(col("source"))
        .agg(lit(0L).as("lo"), count(lit(1)).as("n"))
      val wShard = Window.partitionBy(col("shard_id"))
        .orderBy(col("src_pos"), col("source"))
      val wSh = Window.partitionBy(col("shard_id"))
      interleaveRank(seqs, spans)
        .withColumn("shard_offset",
          row_number().over(wShard).cast("long") - 1)
        .withColumn("live_tokens", col("kept_tokens") - col("masked_tokens"))
        .withColumn("shard_masked_tokens",
          sum(col("masked_tokens")).over(wSh))
        .withColumn("shard_live_tokens", sum(col("live_tokens")).over(wSh))
        .select(col("global_pos"), col("source"), col("seq_id"),
          col("shard_id"), col("shard_offset"), col("src_pos"),
          col("n_docs"), col("kept_tokens"), col("n_masked_docs"),
          col("masked_tokens"), col("live_tokens"), col("masked_spans_fp"),
          col("shard_masked_tokens"), col("shard_live_tokens"))
        .orderBy(col("global_pos"))
    }),

    // ---- ADC+R OPERATING-POINT sweep (q216/q235's discipline at the
    //      re-rank rung): q243 proves the k′ = 10 rerank recovers
    //      recall; this card gives a deployment the CURVE to pick k′
    //      at the knee — per shortlist size k′ ∈ {3, 5, 10, 20}, the
    //      exact-dot budget spent (n_exact = shortlist rows scored)
    //      and recall@3 after the exact re-rank. ONE ADC pass at the
    //      max level (rank retained) and ONE raw-vector gather for
    //      the max shortlist; each level is a rank filter + its own
    //      re-rank window, never a re-scan. Recall is provably
    //      monotone in k′ (a truth item displaced from the top-3 by
    //      a higher-exact-IP candidate is displaced by another truth
    //      item), Wave29Spec-pinned along with the q243 cross-pins
    //      (k′=3 ≡ the pure-ADC set, k′=10 ≡ q243's rerank row) ----
    "q245_rerank_operating_point" -> ((s, d) => {
      val aniso = anisoEmb(s, d)
      val q = aniso.filter(col("vec_id") < 50)
      val (coarse, _) = anisoResidualBase(s, d)
      val identity: Seq[Int] = 0 until 64
      val cb = codebookMap(anisoResidualCb(s, d, "identity", identity))
      val levels = Seq(3, 5, 10, 20)
      val short = graft.util.Persist(
        Similarity.ivfPqAdcTopKOnPerm(q, aniso, "vec_id", "vec",
          k = levels.max, coarse, cb, identity)
          .select(col("q_id"), col("rank"), col("n_id")))
      val qv = q.select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
      // one gather of the max shortlist's raw vectors + exact dots;
      // every level re-ranks a filter of this frame
      val scored = graft.util.Persist(
        aniso.select(col("vec_id").as("n_id"), col("vec").as("n_vec"))
          .join(broadcast(short), Seq("n_id"))
          .join(broadcast(qv), Seq("q_id"))
          .withColumn("ip",
            round(Similarity.dotFold(col("q_vec"), col("n_vec")), 6))
          .select(col("q_id"), col("n_id"), col("rank"), col("ip")))
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, aniso, "vec_id", "vec", k = 3)
          .select(col("q_id"), col("n_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("ip").desc, col("n_id").asc)
      levels.map { l =>
        val lv = scored.filter(col("rank") <= l)
        val top = lv.withColumn("rr", row_number().over(w))
          .filter(col("rr") <= 3)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        val cost = lv.agg(count(lit(1)).as("n_exact"))
        exact.join(top,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"),
            "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
          .crossJoin(broadcast(cost))
          .select(lit(l.toLong).as("k_short"), col("n_truth"),
            col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"),
            col("n_exact"))
      }.reduce(_ unionByName _).orderBy(col("k_short"))
    }),

    // ---- SERVING the frozen-OPQ maintained index (closes the q242
    //      loop): q242 maintains the artifact under the frozen perm
    //      bundle but nothing READ it yet — this card runs the
    //      deployed query path (ivfPqAdcTopKIndexPerm: query LUT
    //      gathered through the SAME frozen perm, coarse dot + m
    //      lookups per candidate, raw vectors only in the fenced
    //      truth side) over the q242-shape maintained rows
    //      (base artifact ∪ delta encode), next to the identity
    //      bundle serving q232's rows — same frozen coarse cells →
    //      identical candidates, so the delta is pure layout
    //      geometry. On the ISOTROPIC real-embedding fixture the
    //      layout gain is expected ≈ nil (the r11/r12 standing-skip
    //      rationale — the honest null; the aniso rehearsal q237/
    //      q240 carries the engaged gain); what this card GATES is
    //      that the perm-serving path is value-correct against the
    //      full replay, and Wave29Spec pins serving-the-artifact ≡
    //      the direct corpus encode path row-for-row ----
    "q246_opq_index_serving" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      def rec(name: String, ap: DataFrame) = {
        val a = ap.select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(a,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"),
            "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
          .select(lit(name).as("layout"), col("n_truth"), col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"))
      }
      // balanced: the q242 released artifact + delta encode under the
      // frozen perm bundle, served through the perm LUT path
      val (coarse, perm, cbRows) = ivfPqOpqTrained(s, d)
      val cb = codebookMap(cbRows)
      val opqDir = CoreQueries.sharedInputDir(
        s"graft_q242_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndexPerm(
            emb.filter(!isDeltaDoc(col("vec_id"))),
            "vec_id", "embedding", coarse, cb, perm)
          .write.mode("overwrite").parquet(p)
      }
      val opqIdx = s.read.parquet(opqDir)
        .select(col("cell"), col("id"), col("code"))
        .unionByName(Similarity.ivfPqResidualIndexPerm(
          emb.filter(isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", coarse, cb, perm))
      // identity: the q232 released artifact + delta encode, served
      // through the identity LUT path (q234's maintained side)
      val (iCoarse, iRows) = ivfPqTrained(s, d, baseOnly = true)
      val iCb = codebookMap(iRows)
      val idDir = CoreQueries.sharedInputDir(
        s"graft_q232_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndex(emb.filter(!isDeltaDoc(col("vec_id"))),
            "vec_id", "embedding", iCoarse, iCb)
          .write.mode("overwrite").parquet(p)
      }
      val idIdx = s.read.parquet(idDir)
        .select(col("cell"), col("id"), col("code"))
        .unionByName(Similarity.ivfPqResidualIndex(
          emb.filter(isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", iCoarse, iCb))
      rec("balanced", Similarity.ivfPqAdcTopKIndexPerm(q, opqIdx,
          "vec_id", "embedding", k = 3, coarse, cb, perm))
        .unionByName(rec("identity", Similarity.ivfPqAdcTopKIndex(q, idIdx,
          "vec_id", "embedding", k = 3, iCoarse, iCb)))
        .orderBy(col("layout"))
    }),

    // ---- TAKEDOWN cost in the COMMITTED training stream (the q244
    //      tombstone rule composed with the q236 mixture order): a
    //      doc deleted post-release costs its masked spans ONCE per
    //      packed sequence in the manifest (q244's card) — but the
    //      committed order REPLAYS sequences across epochs, so the
    //      cost to a training run is masked tokens × the sequence's
    //      occurrence count (⌊e_s⌋ full passes + partial-pass
    //      membership). This card prices exactly that: per (phase,
    //      source), the stream rows, stream tokens, masked stream
    //      tokens (epoch multiplicity included), and the mask rate —
    //      what a capacity/compliance decision reads to know how
    //      much of the committed run a takedown invalidates. Same
    //      fold, frozen fill, epochs, draws, and partial-pass rule
    //      as q236 (one Persist'd pack feeds both the seq frame and
    //      the mask accounting — they cannot diverge); no rank
    //      needed, so the card is aggregates only, (phase×source)-
    //      bounded output ----
    "q247_takedown_stream_cost" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tomb = substring(md5(col("doc_id").cast("string")), 1, 1) === "f"
      val fill = waterFillAlloc(
          Tables.documents(s, d)
            .select(col("source"),
              size(TA.wsTokens(col("text"))).cast("long").as("nt"))
            .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
            .filter(col("n_tokens") > 0)
            .select(col("source").as("lang"), col("n_tokens")), Seq(2.0))
        .select(col("lang").as("source"), col("final_epochs"))
      val cf = curriculumFrame(s, d)
        .select(col("doc_id"),
          concat_ws(":", col("phase"), col("source")).as("source"),
          col("n_tokens"))
        .filter(col("n_tokens") > 0)
      // ONE fold: the seq frame and the mask accounting read the
      // same packed rows (tombstoned spans can never desynchronize
      // from the sequences they live in)
      val packed = graft.util.Persist(ffdPack(cf))
      val seqs = packed.groupBy(col("source"), col("seq_id"))
        .agg(sum(col("n_kept")).as("kept_tokens"),
          coalesce(sum(when(tomb, col("n_kept"))), lit(0L))
            .as("masked_tokens"))
        .select(split(col("source"), ":").getItem(0).cast("long").as("phase"),
          split(col("source"), ":").getItem(1).as("source"),
          col("seq_id"), col("kept_tokens"), col("masked_tokens"))
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
      // the q236 occurrence rows (epoch explosion + partial-pass
      // membership), WITHOUT the rank — a pure cost card
      seqs.join(broadcast(ep), Seq("phase", "source"))
        .withColumn("epoch", explode(sequence(lit(0L), col("fe"))))
        .withColumn("draw", substring(md5(concat_ws(":",
          lit("graft-order-v2"), col("epoch").cast("string"),
          col("phase").cast("string"), col("source"),
          col("seq_id").cast("string"))), 1, 8))
        .withColumn("er", row_number().over(wEp).cast("long"))
        .filter(col("epoch") < col("fe") || col("er") <= col("n_part"))
        .groupBy(col("phase"), col("source"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("masked_tokens") > 0, lit(1)))
            .as("n_masked_rows"),
          sum(col("kept_tokens")).as("stream_tokens"),
          sum(col("masked_tokens")).as("masked_stream_tokens"),
          sum(col("kept_tokens") - col("masked_tokens"))
            .as("live_stream_tokens"))
        .withColumn("mask_rate",
          round(col("masked_stream_tokens").cast("double") /
            col("stream_tokens").cast("double"), 6))
        .orderBy(col("phase"), col("source"))
    }),

    // ---- the FULL deployed serving stack on the real corpus: q246
    //      proves the perm LUT path over the maintained OPQ artifact;
    //      q243/q245 prove ADC+R on the aniso corpus path. This card
    //      composes all of it into the configuration a deployment
    //      actually runs: frozen OPQ bundle → maintained index rows →
    //      perm-LUT ADC shortlist (k′ = 10) → exact re-rank on the
    //      raw-vector store → top-3, next to the shortlist-free
    //      index-ADC leg, both against the fenced full-corpus
    //      exact-IP truth. The raw store appears ONLY in the rerank
    //      gather (one id-keyed join against the bounded |Q| × k′
    //      shortlist broadcast) and the fenced truth — never in
    //      candidate generation. On the isotropic real fixture the
    //      rerank's recovery is the honest (modest) one; the aniso
    //      rehearsal (q243) carries the engaged-regime proof ----
    "q248_serving_stack" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val (coarse, perm, cbRows) = ivfPqOpqTrained(s, d)
      val cb = codebookMap(cbRows)
      val opqDir = CoreQueries.sharedInputDir(
        s"graft_q242_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndexPerm(
            emb.filter(!isDeltaDoc(col("vec_id"))),
            "vec_id", "embedding", coarse, cb, perm)
          .write.mode("overwrite").parquet(p)
      }
      val idx = s.read.parquet(opqDir)
        .select(col("cell"), col("id"), col("code"))
        .unionByName(Similarity.ivfPqResidualIndexPerm(
          emb.filter(isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", coarse, cb, perm))
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, emb, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("n_id")))
      def rec(name: String, kShort: Long, ap: DataFrame) = {
        val a = ap.select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        exact.join(a,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"),
            "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
          .select(lit(name).as("leg"), lit(kShort).as("k_short"),
            col("n_truth"), col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"))
      }
      val adc = Similarity.ivfPqAdcTopKIndexPerm(q, idx,
        "vec_id", "embedding", k = 3, coarse, cb, perm)
      val short = Similarity.ivfPqAdcTopKIndexPerm(q, idx,
        "vec_id", "embedding", k = 10, coarse, cb, perm)
      val rr = Similarity.exactRerank(short, q, emb,
        "vec_id", "embedding", k = 3)
      rec("adc_index", 3L, adc)
        .unionByName(rec("adc_index_rerank", 10L, rr))
        .orderBy(col("leg"))
    }),

    // ---- TOMBSTONES for the maintained PQ index (q219's deletion
    //      discipline at the q232 rung): a vector deleted post-release
    //      (takedown, re-embed, PII) must leave the SERVING artifact
    //      without a retrain — the frozen coarse cells and codebook
    //      are untouched (they are trained constants, not membership
    //      state), so deletion is a pure id-keyed row drop on the
    //      maintained rows: at 100 TB an anti-join against the
    //      bounded tombstone list (or a partition rewrite of the
    //      touched cells), never a re-encode. Because the frozen-
    //      artifact encode is per-row deterministic, drop commutes
    //      with encode — the retained rows must equal the
    //      rebuild-with-frozen-artifacts of the retained population
    //      row-for-row, which is exactly what the oracle replays
    //      (same md5-'f' rule as the q244 manifest masks, so the two
    //      deletion lifecycles compose across families) ----
    "q249_pq_index_tombstones" -> ((s, d) => {
      def tomb(c: Column): Column =
        substring(md5(c.cast("string")), 1, 1) === "f"
      val emb = Tables.embeddings(s, d)
      val (coarse, residRows) = ivfPqTrained(s, d, baseOnly = true)
      val cb = codebookMap(residRows)
      val idxDir = CoreQueries.sharedInputDir(
        s"graft_q232_idx_${CoreQueries.dirToken(d)}") { p =>
        Similarity.ivfPqResidualIndex(emb.filter(!isDeltaDoc(col("vec_id"))),
            "vec_id", "embedding", coarse, cb)
          .write.mode("overwrite").parquet(p)
      }
      val maintained = s.read.parquet(idxDir)
        .select(col("cell"), col("id"), col("code"))
        .withColumn("src", lit("base"))
        .unionByName(Similarity.ivfPqResidualIndex(
          emb.filter(isDeltaDoc(col("vec_id"))),
          "vec_id", "embedding", coarse, cb)
          .withColumn("src", lit("delta")))
      maintained.filter(!tomb(col("id")))
        .select(col("cell"), col("id").as("vec_id"),
          array_join(transform(col("code"), _.cast("string")), ",")
            .as("code"), col("src"))
        .orderBy(col("vec_id"))
    }),

    // ---- CHAINED mixture-order ingest (the q142/q171/q239 chaining
    //      discipline at the weighted-order rung): q241 proves ONE
    //      v1→v2 append; a production corpus never stops, so the
    //      contract must survive a CHAIN — v1 release, then delta1
    //      (md5 '0'), then delta2 (md5 '1'/'2'), each step appending
    //      under the SAME frozen v1 artifacts (terciles + fill) with
    //      its seq ids offset past the running per-(phase:source) max
    //      of EVERYTHING shipped before it, its block interleaved in
    //      its own weighted geometry, and its positions offset past
    //      the running cursor counts. Unlike the index chain (q239),
    //      append here is NOT associative — two appended blocks are
    //      not one (fractions are per-block) — and the card does not
    //      pretend it is: the invariant is PREFIX IMMUTABILITY
    //      (every row shipped at step k is verbatim in step k+1's
    //      manifest; a loader's cursor composes across releases),
    //      which the chained offsets realize by construction and the
    //      oracle replays independently. Cursor state between steps
    //      = the bounded count frames, exactly what a deployment
    //      persists next to the manifest ----
    "q250_mixture_chain" -> ((s, d) => {
      def hex1(c: Column): Column = substring(md5(c.cast("string")), 1, 1)
      val isD = isDeltaDoc(col("doc_id"))
      // FROZEN v1 artifacts (q241's)
      val q = docQuality(s, d)
      val th = sourceQuantiles(q.filter(!isD),
          Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
          keys = Seq.empty, valueCol = "quality_score")
        .select(col("t1"), col("t2"))
      val fill = waterFillAlloc(
          Tables.documents(s, d).filter(!isD)
            .select(col("source"),
              size(TA.wsTokens(col("text"))).cast("long").as("nt"))
            .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
            .filter(col("n_tokens") > 0)
            .select(col("source").as("lang"), col("n_tokens")), Seq(2.0))
        .select(col("lang").as("source"), col("final_epochs"))
      val nt = Tables.documents(s, d).select(col("doc_id"),
        size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
      // persisted (round 18): the chained ffdPack folds each replay
      // the quality-score + tokenize lineage otherwise (guide §5)
      val ph = graft.util.Persist(
        q.join(nt, Seq("doc_id")).crossJoin(broadcast(th))
        .withColumn("phase",
          when(col("quality_score") <= col("t1"), 1L)
            .when(col("quality_score") <= col("t2"), 2L)
            .otherwise(3L))
        .select(col("doc_id"),
          concat_ws(":", col("phase"), col("source")).as("source"),
          col("n_tokens"))
        .filter(col("n_tokens") > 0))
      // FUSED chain (round 19): one pack under the origin-composite
      // key + closed-form cursors — row-identical to the three-step
      // greatest/full-join cursor fold by [[chainedMixtureOrder]]'s
      // argument (Wave32Spec pins it against the inlined old fold)
      chainedMixtureOrder(ph, fill, Seq(
        ("released", !hex1(col("doc_id")).isin("0", "1", "2")),
        ("append1", hex1(col("doc_id")) === "0"),
        ("append2", hex1(col("doc_id")).isin("1", "2"))))
    }),

    // ---- the 2-D ANN OPERATING GRID (nProbe × rerank k′): q235
    //      sweeps the probe budget, q245 the rerank shortlist — but a
    //      deployment sets BOTH knobs at once, and they interact (a
    //      wider probe feeds the shortlist better candidates; a
    //      deeper shortlist rescues what ADC mis-ranks within the
    //      probed cells). Per (n_probe ∈ {1, 4, 16}, k′ ∈ {3, 10}):
    //      the candidate mass ADC scans, the exact dots the rerank
    //      spends, and recall@3 — the full cost/quality surface a
    //      capacity plan reads. ONE query-side assignment (keep = 16,
    //      crank retained), ONE candidate/ADC pass, ONE raw gather of
    //      the max shortlist; every grid cell is a (crank, rank)
    //      filter + its own re-rank window (q216/q235/q245's one-pass
    //      sweep discipline composed). k′-monotonicity at fixed probe
    //      is the q245 theorem (spec-pinned); probe-monotonicity is
    //      NOT a theorem (more candidates can displace a truth item
    //      from the ADC shortlist) and is deliberately not pinned.
    //      The (4, 3)/(4, 10) cells cross-pin q243's two legs ----
    "q251_ann_operating_grid" -> ((s, d) => {
      val aniso = anisoEmb(s, d)
      val q = aniso.filter(col("vec_id") < 50)
      val (coarse, _) = anisoResidualBase(s, d)
      val identity: Seq[Int] = 0 until 64
      val cb = codebookMap(anisoResidualCb(s, d, "identity", identity))
      val idx = Similarity.ivfPqResidualIndex(aniso, "vec_id", "vec",
        coarse, cb)
      val probes = Seq(1, 4, 16)
      val kShorts = Seq(3, 10)
      val swept = graft.util.Persist(
        Similarity.ivfPqProbeSweep(q, idx, "vec_id", "vec",
          k = kShorts.max, coarse, cb, probes))
      val qv = q.select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
      // one raw gather + exact dots for the max shortlist of every
      // probe level; each grid cell filters this frame
      val scored = graft.util.Persist(
        aniso.select(col("vec_id").as("n_id"), col("vec").as("n_vec"))
          .join(broadcast(swept.select(col("n_probe"), col("q_id"),
            col("rank"), col("n_id"))), Seq("n_id"))
          .join(broadcast(qv), Seq("q_id"))
          .withColumn("ip",
            round(Similarity.dotFold(col("q_vec"), col("n_vec")), 6))
          .select(col("n_probe"), col("q_id"), col("n_id"), col("rank"),
            col("ip")))
      val cost = Similarity.ivfPqProbeCosts(q, idx, "vec_id", "vec",
        coarse, probes)
      val exact = graft.util.Persist(
        Similarity.bruteForceDotTopK(q, aniso, "vec_id", "vec", k = 3)
          .select(col("q_id"), col("n_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_probe"), col("q_id"))
        .orderBy(col("ip").desc, col("n_id").asc)
      val legs = for { p <- probes; ks <- kShorts } yield {
        val lv = scored.filter(col("n_probe") === p && col("rank") <= ks)
        val top = lv.withColumn("rr", row_number().over(w))
          .filter(col("rr") <= 3)
          .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
        val ne = lv.agg(count(lit(1)).as("n_exact"))
        exact.join(top,
            col("q_id") === col("a_q") && col("n_id") === col("a_n"),
            "left")
          .agg(count(lit(1)).as("n_truth"), count(col("a_n")).as("n_found"))
          .crossJoin(broadcast(ne))
          .select(lit(p.toLong).as("n_probe"), lit(ks.toLong).as("k_short"),
            col("n_exact"), col("n_truth"), col("n_found"),
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("recall_at_3"))
      }
      legs.reduce(_ unionByName _)
        .join(broadcast(cost), Seq("n_probe"))
        .select(col("n_probe"), col("k_short"), col("n_candidates"),
          col("n_exact"), col("n_truth"), col("n_found"),
          col("recall_at_3"))
        .orderBy(col("n_probe"), col("k_short"))
    }))

  /** The exact temperature-weighted water-fill (q228; chained by
    * q231): per budget multiplier, allocate `budget_x × total` tokens
    * over languages with weight n^0.7/Z, each language capped at
    * `capEpochs × n_tokens`. Input frame: (lang, n_tokens), n > 0.
    * Output: one row per (budget_x, lang) with the naive and final
    * allocations, the cap flag, and the per-budget unallocated
    * residual (> 0 only when every language is capped).
    *
    * The capped set is the prefix of languages ordered by cap/weight
    * (∝ n^0.3 — ascending n_tokens): test each language assuming all
    * smaller ones capped, then prefix-AND the test (a min over the
    * running window) — the standard water-filling argument: capping a
    * language only RAISES the water level θ = (B − ΣcapC)/(Σw_uncapped),
    * so once the test fails it fails for every larger language.
    * Everything is lang-cardinality-bounded: one window pass + one
    * per-budget aggregate joined back broadcast.
    */
  private def waterFillAlloc(toks: DataFrame, budgets: Seq[Double],
      capEpochs: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = toks.sparkSession
    val t = toks.agg(sum(col("n_tokens")).as("tot"),
      sum(pow(col("n_tokens").cast("double"), lit(0.7))).as("z07"))
    val bx = budgets.foldLeft(Option.empty[DataFrame]) { (acc, b) =>
      val one = s.range(1).select(lit(b).as("budget_x"))
      Some(acc.fold(one)(_ unionByName one))
    }.get
    val ntD = col("n_tokens").cast("double")
    val ord = Window.partitionBy(col("budget_x"))
      .orderBy(col("n_tokens").asc, col("lang").asc)
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = toks.crossJoin(broadcast(t)).crossJoin(broadcast(bx))
      .withColumn("w", pow(ntD, lit(0.7)) / col("z07"))
      .withColumn("b", col("budget_x") * col("tot").cast("double"))
      .withColumn("a0", col("w") * col("b"))
      .withColumn("cap", ntD * lit(capEpochs))
      .withColumn("cprev", coalesce(sum(col("cap")).over(prev), lit(0.0)))
      .withColumn("wprev", coalesce(sum(col("w")).over(prev), lit(0.0)))
      .withColumn("cnd",
        when(col("w") * (col("b") - col("cprev")) >=
          col("cap") * (lit(1.0) - col("wprev")), 1).otherwise(0))
      .withColumn("is_capped", min(col("cnd")).over(upTo) === 1)
    val per = st.groupBy(col("budget_x"))
      .agg(coalesce(sum(when(col("is_capped"), col("cap"))), lit(0.0))
          .as("ck"),
        sum(when(!col("is_capped"), col("w"))).as("wu"))
    st.join(broadcast(per), Seq("budget_x"))
      .withColumn("alloc", when(col("is_capped"), col("cap"))
        .otherwise(col("w") * (col("b") - col("ck")) / col("wu")))
      .withColumn("resid", when(col("wu").isNull, col("b") - col("ck"))
        .otherwise(lit(0.0)))
      .select(col("budget_x"), col("lang"), col("n_tokens"),
        round(col("w"), 6).as("w_a07"),
        round(col("a0"), 2).as("naive_alloc"),
        round(col("alloc"), 2).as("final_alloc"),
        round(col("alloc") / ntD, 6).as("final_epochs"),
        when(col("is_capped"), 1L).otherwise(0L).as("capped"),
        round(col("resid"), 2).as("unallocated"))
  }

  /** The q201 banding-sweep rows (shared with q202's operating-point
    * card): per rows-per-band r ∈ {1, 2, 4}, the candidate count,
    * q102-style verified precision, and q114-style sampled recall,
    * all off the session-shared minima/candidate/truth artifacts.
    *
    * Session-MATERIALIZED one step further than the candidate tables
    * (VERDICT r15 #2): the verify legs — exact 3-gram Jaccard over
    * every candidate pair, ~5M pairs on the r=1 leg at sf0.1 — are
    * themselves a calibration output a corpus build writes once per
    * signature-table version, so the 3-ROW sweep card is persisted
    * next to the candidate tables and both q201 and q202 SCAN it.
    * First use pays the verify; after that q202 is an artifact scan
    * + 3-row argmin.
    */
  private def bandSweepRows(s: SparkSession, d: String): DataFrame = {
    val dir = CoreQueries.sharedInputDir(
      s"graft_bandsweep_${CoreQueries.dirToken(d)}") { p =>
      bandSweepRowsCompute(s, d).repartition(1)
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** The verify pass behind [[bandSweepRows]] — runs once per session
    * per corpus; everything downstream reads the persisted card.
    */
  private def bandSweepRowsCompute(s: SparkSession, d: String): DataFrame = {
      val docs = Tables.documents(s, d)
      val pre = graft.util.Persist(docs.select(col("doc_id"),
        substring(col("text"), 1, 120).as("pre")))
      val truth = lshRecallTruth(s, d)
      def rowFor(r: Int) = {
        val cand = bandSweepCandidates(s, d, r)
        val prec = cand
          .join(pre.select(col("doc_id").as("a_id"), col("pre").as("a_pre")),
            Seq("a_id"))
          .join(pre.select(col("doc_id").as("b_id"), col("pre").as("b_pre")),
            Seq("b_id"))
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(sum((Dedup.ngramJaccard(col("a_pre"), col("b_pre"), 3)
              >= 0.5).cast("long")), lit(0L)).as("n_verified"))
        val candDir = cand.select(col("a_id").as("q_id"), col("b_id").as("n_id"))
          .unionByName(cand.select(col("b_id").as("q_id"), col("a_id").as("n_id")))
          .filter(col("q_id") % 29 === 0)
          .withColumn("hit", lit(1))
        val rec = truth.join(candDir, Seq("q_id", "n_id"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
        prec.crossJoin(rec)
          .select(lit(r).cast("long").as("rows_per_band"),
            lit(16 / r).cast("long").as("n_bands"),
            col("n_pairs"), col("n_verified"),
            when(col("n_pairs") === 0, 0.0)
              .otherwise(round(col("n_verified").cast("double") /
                col("n_pairs"), 6)).as("lsh_precision"),
            col("n_truth"), col("n_found"),
            // mirror the precision branch's zero guard: an empty truth
            // sample on another fixture must read 0.0, not null
            when(col("n_truth") === 0, 0.0)
              .otherwise(round(col("n_found").cast("double") /
                col("n_truth"), 6)).as("lsh_recall"))
      }
      rowFor(1).unionByName(rowFor(2)).unionByName(rowFor(4))
  }

  private def duckToks(expr: String) =
    s"list_filter(string_split_regex(trim(lower($expr)), '\\s+'), x -> x <> '')"

  /** DuckDB mirror of the q46/q132 bucket rule: first 4 hex chars of an
    * md5 (column `hx`) as an int, mod 100 (Spark's
    * `conv(substring(md5(x),1,4),16,10) % 100`).
    */
  private def duckBucket(hx: String): String = duckBucketMod(hx, 100)

  /** [[duckBucket]] with an explicit modulus (q185 hashes bigram
    * features into 128 buckets with the same first-4-hex-chars rule).
    */
  private def duckBucketMod(hx: String, m: Int): String =
    s"""((strpos('0123456789abcdef', substr($hx, 1, 1)) - 1) * 4096
       + (strpos('0123456789abcdef', substr($hx, 2, 1)) - 1) * 256
       + (strpos('0123456789abcdef', substr($hx, 3, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr($hx, 4, 1)) - 1)) % $m"""
      .replaceAll("\n\\s*", " ")

  /** DuckDB mirror of [[TA.normWords]]. */
  private val duckNormWords =
    """list_filter(string_split_regex(
       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'),
       x -> x <> '')""".replaceAll("\n\\s*", " ")

  /** q26's n-gram langId rule as oracle CTEs ending in
    * `lg(doc_id, source, n_chars, lang_guess)` — shared by the
    * per-language distribution splits (q163/q164) so the detected-
    * language rule cannot desynchronize from the q26-gated original.
    */
  private lazy val duckLangCtes: String = s"""
       lt AS (SELECT doc_id, source, n_chars, ${duckToks("text")} AS lgtoks
         FROM documents),
       lsc AS (SELECT doc_id, source, n_chars,
         len(list_filter(lgtoks, t -> list_contains(['the','and','of','is','with'], t))) AS en,
         len(list_filter(lgtoks, t -> list_contains(['le','la','les','et','des'], t))) AS fr,
         len(list_filter(lgtoks, t -> list_contains(['der','die','und','ist','von'], t))) AS de,
         len(list_filter(lgtoks, t -> list_contains(['el','los','las','y','es'], t))) AS es
         FROM lt),
       lg AS (SELECT doc_id, source, n_chars,
         CASE WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
              WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
              WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
              WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
              ELSE 'und' END AS lang_guess
         FROM lsc)"""

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
  /** Prefixed/filtered variant of the banded-signature chain so a
    * release-slice instance (q167's v1) can coexist with the full-
    * corpus instance in one WITH list. `px` prefixes every CTE name;
    * `pred` filters the seeding `documents` scan.
    */
  private def bandedSigSqlFor(px: String, pred: String): String = {
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

  private val bandedSigSql: String = bandedSigSqlFor("", "TRUE")

  /** IVF centroid VALUES rows for the q44 oracle — the exact constants
    * the Spark side folds into its plan (test embeddings are 64-dim).
    */
  private val ivfCentroids: String =
    (0 until 16).map { cl =>
      val vals = (0 until 64).map(i => graft.ext.Similarity.centroidVal(cl, i)).mkString(", ")
      s"($cl, [$vals]::DOUBLE[])"
    }.mkString(", ")

  /** PQ sub-codebook VALUES rows for the q127/q128/q129 oracles — the
    * exact constants the Spark side folds into its plan
    * ([[graft.ext.Similarity.pqVal]]; 8 subspaces × 16 centroids × 8
    * dims over the 64-dim test embeddings).
    */
  private val pqCentroids: String =
    (0 until 8).flatMap { sub =>
      (0 until 16).map { c =>
        val vals = (0 until 8).map(i => graft.ext.Similarity.pqVal(sub, c, i)).mkString(", ")
        s"($sub, $c, [$vals]::DOUBLE[])"
      }
    }.mkString(", ")

  /** Shared q130/q131 oracle CTEs: static-codebook PQ assignment keys,
    * the argmin codes, and the per-(sub, c, pos) member values feeding
    * the Lloyd mean — mirroring `Similarity.pqTrainIteration` (argmin
    * key c·c − 2·x·c rounded at 6, low-c tie-break).
    */
  private lazy val pqTrainCtes: String = s"""
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         keys AS (SELECT e.vec_id, p.sub, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(
                   list_slice(e.vec, p.sub * 8 + 1, p.sub * 8 + 8), p.pvec) AS key
           FROM e, pqc p),
         codes AS (SELECT vec_id, sub, c FROM (
           SELECT vec_id, sub, c, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
             ORDER BY round(key, 6), c) AS rn FROM keys) t WHERE rn = 1),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         vals AS (SELECT k.sub, k.c, poss.pos,
             list_extract(e.vec, k.sub * 8 + poss.pos + 1) AS vv
           FROM codes k JOIN e USING (vec_id) CROSS JOIN poss)"""

  /** Shared q183/q184 oracle CTEs: the anisotropic rehearsal fixture
    * (dims 0–7 scaled 4×, usable-vector contract) and its rounded
    * per-dimension population variances — mirroring [[anisoEmb]] and
    * the opqVarLayout aggregate exactly (same scale rule, same row
    * set, same round-at-6).
    */
  private lazy val anisoCtes: String = s"""
         adims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         ae0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         aav AS (SELECT vec_id,
             list(v0[dim + 1] * CASE WHEN dim < 8 THEN 4.0 ELSE 1.0 END
               ORDER BY dim) AS vec
           FROM ae0 CROSS JOIN adims GROUP BY vec_id),
         au AS (SELECT vec_id, vec FROM aav
           WHERE list_inner_product(vec, vec) > 0),
         avr AS (SELECT dim, round(var_pop(vec[dim + 1]), 6) AS v
           FROM au CROSS JOIN adims GROUP BY dim)"""

  /** Shared q184/q197 oracle CTEs: the static PQ init codebook and
    * the two dim→(sub, pos) layout maps — identity (`aimap`, the
    * contiguous slice) and variance-balanced (`abmap`, the snake deal
    * over the variance ranks). Requires [[anisoCtes]]'s `avr`/`adims`
    * in scope.
    */
  private lazy val opqLayoutCtes: String = s"""
         opqc(sub, c, pvec) AS (VALUES $pqCentroids),
         ark AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1 AS r
           FROM avr),
         abmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM ark),
         aimap AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM adims),
         aposs AS (SELECT unnest(generate_series(0, 7)) AS pos)"""

  /** Shared q184/q197 per-layout oracle block: the subvector gather
    * under layout map `mp`, the static-init encode, and the
    * one-Lloyd-step refined codebook `${px}rc(sub, c, rvec)` —
    * mirroring [[opqRefined]] exactly (rounded-argmin/low-c ties,
    * round-at-6 means). Requires `au`, `opqc`, `aposs` in scope.
    */
  private def opqTrainSqlFor(px: String, mp: String): String = s"""
         ${px}sv AS (SELECT u.vec_id, m.sub,
             list(u.vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM au u CROSS JOIN $mp m GROUP BY u.vec_id, m.sub),
         ${px}k0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM ${px}sv s JOIN opqc p ON p.sub = s.sub),
         ${px}cd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM ${px}k0) t WHERE rn = 1),
         ${px}ref AS (SELECT cd.sub, cd.c, aposs.pos,
             round(avg(cd.sv[aposs.pos + 1]), 6) AS cv
           FROM ${px}cd cd CROSS JOIN aposs GROUP BY 1, 2, 3),
         ${px}rc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM ${px}ref GROUP BY 1, 2)"""

  /** Per-layout RESIDUAL-rung OPQ oracle block (q237): gather the
    * `w7rv` residuals under layout map `mp` (norm > 0, mirroring
    * pqTrainIterationPerm/pqPermMse's usable contract), one-Lloyd
    * refine from the static `pqc` init into `${px}rc(sub, c, rvec)`,
    * encode every residual against it (`${px}code`), gather the query
    * vectors under the same map (`${px}qsv`), and emit the ADC top-3
    * (`${px}ap` — coarse term added LAST, q229's fold) plus the
    * per-subspace trained-codebook MSE pivoted into the ordered
    * 8-term sum (`${px}m8` — pqPermMse's err = |sv|² + unrounded key
    * at the rounded-argmin). Requires `w7rv`, `prs`, `qq`, `pqc`,
    * `aposs` in scope.
    */
  private def residOpqSqlFor(px: String, mp: String): String = s"""
         ${px}sv AS (SELECT r.n_id AS vec_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM w7rv r CROSS JOIN $mp m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         ${px}k0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM ${px}sv s JOIN pqc p ON p.sub = s.sub),
         ${px}cd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM ${px}k0) t WHERE rn = 1),
         ${px}ref AS (SELECT cd.sub, cd.c, aposs.pos,
             round(avg(cd.sv[aposs.pos + 1]), 6) AS cv
           FROM ${px}cd cd CROSS JOIN aposs GROUP BY 1, 2, 3),
         ${px}rc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM ${px}ref GROUP BY 1, 2),
         ${px}esv AS (SELECT r.n_id AS vec_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM w7rv r CROSS JOIN $mp m GROUP BY r.n_id, m.sub),
         ${px}code AS (SELECT vec_id, sub, c FROM (
             SELECT s.vec_id, s.sub, r.c, ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.sub
               ORDER BY round(list_inner_product(r.rvec, r.rvec)
                 - 2 * list_inner_product(s.sv, r.rvec), 6), r.c) AS rn
             FROM ${px}esv s JOIN ${px}rc r ON r.sub = s.sub) t
           WHERE rn = 1),
         ${px}qsv AS (SELECT q.q_id, m.sub,
             list(q.q_vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM qq q CROSS JOIN $mp m GROUP BY q.q_id, m.sub),
         ${px}tm AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(qs.sv, r.rvec) AS term
           FROM prs pr
           JOIN ${px}code k ON k.vec_id = pr.n_id
           JOIN ${px}rc r ON r.sub = k.sub AND r.c = k.c
           JOIN ${px}qsv qs ON qs.q_id = pr.q_id AND qs.sub = k.sub),
         ${px}rkd AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY
               q_id ORDER BY round(adc, 6) DESC, n_id) AS rank
             FROM (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
               FROM ${px}tm GROUP BY q_id, n_id) a),
         ${px}ap AS (SELECT q_id, n_id FROM ${px}rkd WHERE rank <= 3),
         ${px}mk AS (SELECT s.vec_id, s.sub, s.sv, r.c,
             list_inner_product(r.rvec, r.rvec)
               - 2 * list_inner_product(s.sv, r.rvec) AS key
           FROM ${px}sv s JOIN ${px}rc r ON r.sub = s.sub),
         ${px}mm AS (SELECT vec_id, sub,
             list_inner_product(sv, sv) + key AS err FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
               ORDER BY round(key, 6), c) AS rn FROM ${px}mk) t
           WHERE rn = 1),
         ${px}me AS (SELECT sub, round(avg(err), 6) AS mse
           FROM ${px}mm GROUP BY sub),
         ${px}m8 AS (SELECT round(${(0 until 8)
             .map(i => s"MAX(mse) FILTER (sub = $i)").mkString(" + ")}, 6)
             AS resid_mse FROM ${px}me),
         ${px}rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN ${px}ap a
             ON ex.q_id = a.q_id AND ex.n_id = a.n_id)"""

  /** The shared q232/q239 index-rebuild oracle CTEs: frozen
    * base-slice training (ivfPqTrainSqlFor), whole-corpus assignment
    * and residual encode against the frozen artifacts, codes as
    * codebook positions rendered CSV (`ea`, `ecsv`). Both consumers
    * differ only in how the final SELECT labels `src`.
    */
  private lazy val pqIndexEncodeCtes: String = s"""
         cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${ivfPqTrainSqlFor("b", "eb")},
         ea AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM e, bcent c) t WHERE rn = 1),
         erv AS (SELECT n_id, cell,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ea),
         ecd AS (SELECT n_id, sub, c FROM (
           SELECT r.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY r.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(
                     list_slice(r.rvecd, b.sub * 8 + 1, b.sub * 8 + 8),
                     b.bvec), 6), b.c) AS rn
           FROM erv r, brcb b) t WHERE rn = 1),
         epos AS (SELECT sub, c,
             ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c) - 1 AS p
           FROM brcb),
         ecsv AS (SELECT n_id,
             string_agg(CAST(p AS VARCHAR), ',' ORDER BY ecd.sub) AS code
           FROM ecd JOIN epos ON epos.sub = ecd.sub AND epos.c = ecd.c
           GROUP BY n_id)"""

  /** Frozen-codebook encode-MSE oracle block (q238): assign `$src` to
    * the FROZEN `bcent` cells, residuals against them, per-subspace
    * argmin against the FROZEN `brcb` codebook (rounded key, low c),
    * err = |sv|² + unrounded key (pqPermMse's identity-layout
    * arithmetic exactly), ending in `${px}m8(n_vecs, frozen_mse)` —
    * the ordered 8-term per-sub sum. Requires `bcent`, `brcb`, `poss`
    * in scope.
    */
  private def frozenMseSqlFor(px: String, src: String,
      cent: String = "bcent", cb: String = "brcb"): String = s"""
         ${px}as AS (SELECT n_id, n_vec, cvec FROM (
             SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cvec,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
                 c.cell) AS rn
             FROM $src e, $cent c) t WHERE rn = 1),
         ${px}rv AS (SELECT n_id, list_transform(generate_series(1, 64),
             i -> n_vec[i] - cvec[i]) AS rvecd FROM ${px}as),
         ${px}sv AS (SELECT r.n_id, s.pos AS sub,
             list_slice(r.rvecd, s.pos * 8 + 1, s.pos * 8 + 8) AS sv
           FROM ${px}rv r CROSS JOIN poss s
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0),
         ${px}mk AS (SELECT s.n_id, s.sub, s.sv, b.c,
             list_inner_product(b.bvec, b.bvec)
               - 2 * list_inner_product(s.sv, b.bvec) AS key
           FROM ${px}sv s JOIN $cb b ON b.sub = s.sub),
         ${px}mm AS (SELECT n_id, sub,
             list_inner_product(sv, sv) + key AS err FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY n_id, sub
               ORDER BY round(key, 6), c) AS rn FROM ${px}mk) t
           WHERE rn = 1),
         ${px}me AS (SELECT sub, round(avg(err), 6) AS mse,
             COUNT(*) AS nv FROM ${px}mm GROUP BY sub),
         ${px}m8 AS (SELECT CAST(MAX(nv) AS BIGINT) AS n_vecs,
             round(${(0 until 8).map(i => s"MAX(mse) FILTER (sub = $i)")
               .mkString(" + ")}, 6) AS frozen_mse
           FROM ${px}me)"""

  /** The FFD packing fold as a recursive oracle CTE chain ending in
    * `${px}fold` — one recursion step per (source, rank) placing the
    * rank-r doc by first-fit over the carried open-bin remainder LIST
    * (DuckDB's list state replays [[ffdPack]]'s per-shard fold
    * verbatim; `NULLIF(..., 0)` because list_position signals absence
    * as 0). The token CTEs are MATERIALIZED: the recursive join
    * otherwise re-inlines (and re-pays) the tokenizing regexp on
    * every iteration.
    */
  private def ffdFoldSqlFor(px: String,
      tokensSql: String = s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents"""): String = s"""
         ${px}d AS MATERIALIZED ($tokensSql),
         ${px}f AS MATERIALIZED (SELECT doc_id, source, n_tokens,
             LEAST(n_tokens, $packBudget) AS t,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY LEAST(n_tokens, $packBudget) DESC, doc_id) AS r
           FROM ${px}d WHERE n_tokens > 0),
         ${px}fold AS (
           SELECT source, CAST(0 AS BIGINT) AS r, CAST([] AS BIGINT[]) AS rem,
             CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
             CAST(NULL AS BIGINT) AS seq_id, CAST(NULL AS BIGINT) AS off,
             CAST(NULL AS BIGINT) AS t
           FROM (SELECT DISTINCT source FROM ${px}f)
           UNION ALL
           SELECT f.source, f.r + 1,
             CASE WHEN l.fit IS NULL THEN list_append(f.rem, $packBudget - d.t)
               ELSE f.rem[1:l.fit-1] || [f.rem[l.fit] - d.t]
                 || f.rem[l.fit+1:len(f.rem)] END,
             d.doc_id, d.n_tokens,
             CAST(CASE WHEN l.fit IS NULL THEN len(f.rem)
               ELSE l.fit - 1 END AS BIGINT),
             CAST(CASE WHEN l.fit IS NULL THEN 0
               ELSE $packBudget - f.rem[l.fit] END AS BIGINT),
             d.t
           FROM ${px}fold f
           JOIN ${px}f d ON d.source = f.source AND d.r = f.r + 1,
           LATERAL (SELECT NULLIF(list_position(
             list_transform(f.rem, x -> x >= d.t), true), 0) AS fit) l
         )"""

  /** One rows-per-band leg of the q201 banding-sweep oracle: band keys
    * over the shared `swpiv` nibble-minima pivot (NULL propagates
    * through `||`, mirroring [[graft.ext.Dedup.bandedSignaturesR]]'s
    * all-present guard), the capped bucket join, distinct candidate
    * pairs, and the q102-precision / q114-recall aggregates against
    * the shared `swg`/`swtruth` sides.
    */
  private def bandSweepSqlFor(px: String, r: Int): String = {
    val nBands = 16 / r
    val keys = (0 until nBands).map { j =>
      (0 until r).map(t => s"b${j + t * nBands}").mkString(" || '#' || ") +
        s" AS k$j"
    }.mkString(", ")
    val karr = (0 until nBands).map(j => s"k$j").mkString("[", ", ", "]")
    s"""${px}keyed AS (SELECT doc_id, $keys FROM swpiv),
         ${px}lng0 AS (SELECT doc_id,
             unnest(generate_series(0, ${nBands - 1})) AS band,
             unnest($karr) AS sigkey FROM ${px}keyed),
         ${px}lng AS (SELECT l.doc_id, l.band, l.sigkey FROM ${px}lng0 l
           JOIN (SELECT band, sigkey, COUNT(*) AS bs
                 FROM ${px}lng0 WHERE sigkey IS NOT NULL GROUP BY 1, 2) s
           ON l.band = s.band AND l.sigkey = s.sigkey
           WHERE l.sigkey IS NOT NULL AND s.bs <= 10000),
         ${px}cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM ${px}lng a JOIN ${px}lng b ON a.band = b.band
             AND a.sigkey = b.sigkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         ${px}prec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COALESCE(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_verified
           FROM (SELECT
               CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               / CAST(len(ga.grams) + len(gb.grams)
                 - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS jac
             FROM ${px}cand c JOIN swg ga ON c.a_id = ga.doc_id
             JOIN swg gb ON c.b_id = gb.doc_id) t),
         ${px}cdir AS (SELECT a_id AS q_id, b_id AS n_id FROM ${px}cand
             WHERE a_id % 29 = 0
           UNION ALL SELECT b_id, a_id FROM ${px}cand WHERE b_id % 29 = 0),
         ${px}rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(c.n_id) AS BIGINT) AS n_found
           FROM swtruth t LEFT JOIN ${px}cdir c
             ON t.q_id = c.q_id AND t.n_id = c.n_id)"""
  }

  /** The exact heavy-hitter set (share ≥ 1 %) over the stamped
    * corpus's positional gram stream — shared VERBATIM by q186 (batch
    * sketch + re-score) and q190 (streaming sketch maintenance +
    * re-score): the Misra–Gries guarantee makes both paths land this
    * exact set regardless of how the stream was partitioned, so one
    * oracle string gates the batch/stream equivalence by identity.
    */
  private lazy val hhExactSql: String = s"""
         WITH hhd AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3','4','5','6','7')
               THEN '$boilerplateText' ELSE text END AS text
           FROM documents),
         hhw AS (SELECT doc_id,
             ${duckNormWords} AS words FROM hhd),
         hhp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM hhw WHERE len(words) >= 8),
         hhg AS (SELECT
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM hhp),
         hht AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hhg),
         hhc AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM hhg GROUP BY gh)
         SELECT gh, cnt, round(cnt * 1.0 / n, 6) AS share
         FROM hhc CROSS JOIN hht WHERE cnt * 100 >= n ORDER BY gh"""

  /** Shared q187/q189 oracle CTEs — the DuckDB mirror of
    * [[histBinCounts]] + [[histReport]]: per-source histogram under
    * boundaries from `boundaryPred`'s slice (clamped bins), the
    * merged-count cumulative frame (n recovered from the sketch
    * itself), the integer-rational estimates, and the exact side over
    * ALL documents. Ends with `${px}i(source, p50_hist, p95_hist)`
    * and `${px}x(source, n_docs, p50_exact, p95_exact)`.
    */
  private def histSqlCtes(px: String, boundaryPred: String): String = s"""
         ${px}e AS (SELECT source, MIN(n_chars) AS lo, MAX(n_chars) AS hi
           FROM documents WHERE $boundaryPred GROUP BY source),
         ${px}b AS (SELECT d.source, e.lo, e.hi,
             CASE WHEN e.hi = e.lo THEN 0
               ELSE greatest(
                 least(((d.n_chars - e.lo) * 256) // (e.hi - e.lo), 255), 0)
             END AS bin
           FROM documents d JOIN ${px}e e USING (source)),
         ${px}c AS (SELECT source, lo, hi, bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM ${px}b GROUP BY source, lo, hi, bin),
         ${px}m AS (SELECT source, lo, hi, bin, cnt,
             SUM(cnt) OVER (PARTITION BY source) AS n,
             COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
           FROM ${px}c),
         ${px}h AS (SELECT source, MAX(n) AS hn, MAX(lo) AS lo,
             MAX(hi) AS hi,
             ${Seq(
               ("50f", "(n - 1) // 2"), ("50c", "(n - 1 + 1) // 2"),
               ("95f", "((n - 1) * 19) // 20"),
               ("95c", "((n - 1) * 19 + 19) // 20")).map { case (t, r) =>
                 s"""MAX(CASE WHEN cum_before <= $r AND $r < cum_before + cnt
                     THEN bin END) AS b$t,
                    MAX(CASE WHEN cum_before <= $r AND $r < cum_before + cnt
                     THEN cum_before END) AS m$t,
                    MAX(CASE WHEN cum_before <= $r AND $r < cum_before + cnt
                     THEN cnt END) AS c$t"""
               }.mkString(",")}
           FROM ${px}m GROUP BY source),
         ${px}i AS (SELECT source,
             ${Seq(("50", 1, 2), ("95", 19, 20)).map { case (t, pn, pd) =>
               val rF = s"(((hn - 1) * $pn) // $pd)"
               val rC = s"(((hn - 1) * $pn + ${pd - 1}) // $pd)"
               val m = s"(((hn - 1) * $pn) % $pd)"
               val kF = s"(2 * b${t}f * c${t}f + 2 * ($rF - m${t}f) + 1)"
               val kC = s"(2 * b${t}c * c${t}c + 2 * ($rC - m${t}c) + 1)"
               s"""floor((lo + CAST((hi - lo) * (($pd - $m) * $kF * c${t}c
                  + $m * $kC * c${t}f) AS DOUBLE)
                  / CAST(512 * c${t}f * c${t}c * $pd AS DOUBLE))
                  * 1000000) / 1000000 AS p${t}_hist"""
             }.mkString(",")}
           FROM ${px}h),
         ${px}x AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(quantile_cont(n_chars, 0.50), 6) AS p50_exact,
             round(quantile_cont(n_chars, 0.95), 6) AS p95_exact
           FROM documents GROUP BY source)"""

  /** Shared q127/q128 oracle CTEs: IVF cell assignment + PQ encode +
    * the ADC candidate scoring, mirroring `Similarity.pqAdcTopK`
    * exactly — the encode argmin orders by round(c·c − 2·x·c, 6) with
    * centroid-id tie-break (the |x|² term drops out of the argmin),
    * and the ADC sum pins the Spark side's left-to-right subspace fold
    * by pivoting the 8 per-subspace terms into one left-associative
    * addition chain (a plain SUM would leave the FP association to the
    * aggregator's visit order).
    */
  /** Left-associative 8-term ADC sum pivot, shared by every ADC oracle
    * (pins the Spark side's left-to-right subspace fold).
    */
  private val pqTermPivot: String =
    (0 until 8).map(sub => s"MAX(term) FILTER (sub = $sub)").mkString(" + ")

  private lazy val pqAdcCtes: String = {
    val termPivot = pqTermPivot
    s"""cent(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec FROM embeddings
           WHERE $usableVec),
         ca AS (SELECT n_id, n_vec, cell FROM (
           SELECT n_id, n_vec, cell, ROW_NUMBER() OVER (PARTITION BY n_id
             ORDER BY round(list_inner_product(n_vec, cvec), 6) DESC, cell) AS rn
           FROM c, cent) t WHERE rn = 1),
         codes AS (SELECT n_id, sub, c FROM (
           SELECT ca.n_id, p.sub, p.c,
             ROW_NUMBER() OVER (PARTITION BY ca.n_id, p.sub
               ORDER BY round(list_inner_product(p.pvec, p.pvec)
                 - 2 * list_inner_product(
                     list_slice(ca.n_vec, p.sub * 8 + 1, p.sub * 8 + 8), p.pvec), 6),
               p.c) AS rn
           FROM ca, pqc p) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings
           WHERE vec_id < 50 AND $usableVec),
         qa AS (SELECT q_id, q_vec, cell FROM (
           SELECT q_id, q_vec, cell, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell) AS rn
           FROM qq, cent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.q_vec, ca.n_id FROM qa JOIN ca USING (cell)
           WHERE qa.q_id <> ca.n_id),
         terms AS (SELECT pr.q_id, pr.n_id, k.sub,
             list_inner_product(
               list_slice(pr.q_vec, k.sub * 8 + 1, k.sub * 8 + 8), p.pvec) AS term
           FROM prs pr JOIN codes k ON k.n_id = pr.n_id
           JOIN pqc p ON p.sub = k.sub AND p.c = k.c),
         adc AS (SELECT q_id, n_id, $termPivot AS adc
           FROM terms GROUP BY q_id, n_id),
         adcr AS (SELECT q_id, n_id, adc, ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY round(adc, 6) DESC, n_id) AS rank FROM adc)"""
  }

  /** Sign-LSH hyperplane VALUES rows for the q36 oracle — the exact
    * constants the Spark side folds into its plan ([[graft.ext.Similarity.planeVal]];
    * test embeddings are 64-dim, 8 planes). `bit` carries 1<<p so the
    * SQL needs no shift operator.
    */
  private val lshPlanes: String =
    (0 until 8).map { p =>
      val vals = (0 until 64).map(i => graft.ext.Similarity.planeVal(p, i)).mkString(", ")
      s"(${1L << p}, [$vals]::DOUBLE[])"
    }.mkString(", ")

  /** Sign-projection matrix VALUES rows for the q103 oracle — the
    * exact ±1 constants the Spark side folds into its plan
    * ([[graft.ext.Similarity.signVal]]; 8 output dims over 64-dim
    * embeddings).
    */
  private val signProjRows: String =
    (0 until 8).map { p =>
      val vals = (0 until 64).map(i => graft.ext.Similarity.signVal(p, i)).mkString(", ")
      s"($p, [$vals]::DOUBLE[])"
    }.mkString(", ")

  /** 16-term SimHash oracle is generated programmatically. */
  private val simhashTerms: String = (0 until 16).map { j =>
    s"""CASE WHEN 2 * len(list_filter(toks, t ->
       list_contains(['1','3','5','7','9','b','d','f'], substr(md5(t), ${j + 1}, 1))))
       > len(toks) THEN ${1L << j} ELSE 0 END""".replaceAll("\n\\s*", " ")
  }.mkString(" + ")

  /** Oracle mirror of the Spark rank paths' usable-vector contract
    * (NULL/empty/zero-norm vectors never enter a similarity join —
    * 0/0 cosine is NaN and NaN sorts above every number).
    */
  private val usableVec: String =
    """embedding IS NOT NULL AND len(embedding) > 0
       AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"""
      .replaceAll("\n\\s*", " ")

  /** Shared q91/q95 oracle: banded-signature candidates (>=2 bands),
    * cross-side (md5-split delta-vs-base) pairs only. q95 differs from
    * q91 only in WHERE the base-side signatures come from (a persisted
    * parquet signature table vs recompute), which must not change the
    * values — one SQL pins both.
    */
  private lazy val incrementalDedupSql: String = s"""
         WITH $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_bands
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sd AS (SELECT doc_id,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1', '2')
               THEN 'delta' ELSE 'base' END AS side FROM documents)
         SELECT CASE WHEN sa.side = 'delta' THEN c.a_id ELSE c.b_id END AS delta_id,
           CASE WHEN sa.side = 'delta' THEN c.b_id ELSE c.a_id END AS base_id,
           n_bands
         FROM cand c JOIN sd sa ON c.a_id = sa.doc_id
           JOIN sd sb ON c.b_id = sb.doc_id
         WHERE sa.side <> sb.side
         ORDER BY delta_id, base_id"""

  /** q96 oracle: the 5-round BPE trainer unrolled into a CTE chain
    * (w0 -> p1/t1/w1 -> ... -> t5), generated programmatically — the
    * "scripted oracle" discipline (cf. simhashTerms). Each round: pair
    * stats over the symbol-split reps, argmax via ORDER BY/LIMIT 1,
    * merge applied with the same single replace() as the Spark side
    * (left join keeps w_i intact if a round produces no pair).
    */
  private lazy val bpeTrainCtes: String = {
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

  private lazy val bpeTrainSql: String = {
    val unions = (1 to 5).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_iter, a AS left_sym, b AS right_sym, pair_freq FROM t$i"
    }.mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes
         SELECT * FROM ($unions) ORDER BY merge_iter"""
  }

  /** q122 oracle: replay the trained merge table (the SAME t1..t5 CTE
    * chain q96's oracle builds) over every doc's token list — the
    * per-word symbol rep, five CASE-guarded replace()s in training
    * order (guarded so an empty round leaves the rep intact, mirroring
    * the Spark side's fold over collected merges), then count
    * non-empty symbols and sum per doc.
    */
  /** The q158/q160 shared oracle: cross-side (delta×base) LSH
    * candidate pairs rescored with directed containment — one SQL pins
    * both the batch incremental path and the streaming path (q148/q149's
    * proof pattern: the shared green row IS the value-identity claim).
    */
  private lazy val incrementalContainmentSql: String = s"""
         WITH $bandedSigSql,
         sd AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS side
           FROM documents),
         cand0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         cand AS (SELECT
             CASE WHEN sa.side = 'delta' THEN a_id ELSE b_id END AS delta_id,
             CASE WHEN sa.side = 'delta' THEN b_id ELSE a_id END AS base_id
           FROM cand0 JOIN sd sa ON sa.doc_id = a_id
             JOIN sd sb ON sb.doc_id = b_id
           WHERE sa.side <> sb.side),
         gr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
           FROM sh GROUP BY 1),
         ix AS (SELECT c.delta_id, c.base_id, CAST(COUNT(*) AS BIGINT) AS n_common
           FROM cand c JOIN sh x ON x.doc_id = c.delta_id
             JOIN sh y ON y.doc_id = c.base_id AND y.shingle = x.shingle
           GROUP BY 1, 2),
         m AS (SELECT c.delta_id, c.base_id, gd.ng AS nd, gb.ng AS nb,
             COALESCE(ix.n_common, 0) AS n_common
           FROM cand c JOIN gr gd ON gd.doc_id = c.delta_id
             JOIN gr gb ON gb.doc_id = c.base_id
             LEFT JOIN ix ON ix.delta_id = c.delta_id
               AND ix.base_id = c.base_id)
         SELECT delta_id, base_id, CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / (nd + nb - n_common), 6) AS jaccard,
           round(CAST(n_common AS DOUBLE) / nd, 6) AS cont_delta,
           round(CAST(n_common AS DOUBLE) / nb, 6) AS cont_base
         FROM m WHERE nd > 0 AND nb > 0
           AND greatest(round(CAST(n_common AS DOUBLE) / nd, 6),
                        round(CAST(n_common AS DOUBLE) / nb, 6)) >= 0.5
         ORDER BY delta_id, base_id"""

  /** q154 oracle helper: one side's quantize → code-space cell
    * assignment → per-(cell, pos) member-mean chain (the q146/q94 CTE
    * chain with a side predicate, carrying dcode through to the mean).
    * `p` prefixes the CTE names; `where` is the side predicate on
    * vec_id.
    */
  private def quantCellMeanCtes(p: String, where: String): String = s"""
         ${p}s AS (SELECT vec_id, embedding,
             coalesce(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale0
           FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
             AND $where),
         ${p}qz AS (SELECT vec_id,
             CASE WHEN scale0 > 0 THEN list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127 / scale0) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS code
           FROM ${p}s),
         ${p}cd AS (SELECT vec_id,
             list_transform(code, x -> CAST(x AS DOUBLE)) AS dcode FROM ${p}qz),
         ${p}nn AS (SELECT vec_id, dcode FROM ${p}cd
           WHERE list_inner_product(dcode, dcode) > 0),
         ${p}ca AS (SELECT vec_id, cell, dcode FROM (
             SELECT vec_id, cell, dcode,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY round(list_inner_product(dcode, cvec), 6) DESC, cell) AS rn
             FROM ${p}nn, cent) t WHERE rn = 1),
         ${p}m AS (SELECT cell, pos, AVG(v) AS m, COUNT(*) AS n FROM (
             SELECT cell, generate_subscripts(dcode, 1) AS pos,
               unnest(dcode) AS v FROM ${p}ca) u GROUP BY 1, 2)"""

  /** q155 oracle helper: one side's dataset-card scalar CTEs (`p`
    * prefixes names, `pred` is the side predicate on doc_id; the BPE
    * totals filter the SHARED full-corpus-trained `enc` — the
    * tokenizer is held fixed across releases).
    */
  private def releaseCardCtes(p: String, pred: String): String = s"""
         ${p}bs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
             AVG(len(text)) AS avg_chars,
             CAST(SUM(len(${duckToks("text")})) AS DOUBLE) AS n_words,
             CAST(COUNT(DISTINCT md5(lower(substr(text, 1, 40)))) AS DOUBLE)
               AS n_keys
           FROM documents WHERE $pred),
         ${p}bt AS (SELECT CAST(SUM(coalesce(n_tokens, 0)) AS DOUBLE) AS nbpe
           FROM enc WHERE $pred),
         ${p}u AS (SELECT metric, value FROM (
           SELECT 'avg_doc_chars' AS metric, avg_chars AS value FROM ${p}bs
           UNION ALL SELECT 'bpe_fertility', nbpe / n_words
             FROM ${p}bs CROSS JOIN ${p}bt
           UNION ALL SELECT 'exact_dup_frac', 1.0 - n_keys / n_docs FROM ${p}bs
           UNION ALL SELECT 'n_bpe_tokens', nbpe FROM ${p}bt
           UNION ALL SELECT 'n_docs', n_docs FROM ${p}bs
           UNION ALL SELECT 'n_sources', n_sources FROM ${p}bs
           UNION ALL SELECT 'n_words', n_words FROM ${p}bs) v)"""

  private lazy val bpeEncodeCtes: String = {
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

  private lazy val bpeEncodeSql: String = s"""
         WITH $bpeEncodeCtes
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN n_words > 0
             THEN round(CAST(coalesce(n_tokens, 0) AS DOUBLE) / n_words, 6)
           END AS fertility
         FROM enc ORDER BY doc_id"""

  /** q126 oracle: the merge-budget sweep — all-word freqs (NO length
    * filter, unlike the trainer's w0), the progressive replace chain
    * r0..r5 via lateral column aliases, per-budget length sums, six
    * rows via UNION ALL.
    */
  private lazy val bpeSweepSql: String = {
    val S = "\u0001"; val SS = S + S
    val repDefs = (1 to 5).map { i =>
      s"""CASE WHEN t$i.a IS NULL THEN r${i - 1}
         ELSE replace(r${i - 1}, '$S' || t$i.a || '$SS' || t$i.b || '$S',
                      '$S' || t$i.a || t$i.b || '$S') END AS r$i"""
        .replaceAll("\\n\\s*", " ")
    }.mkString(",\n         ")
    val lens = (0 to 5).map(k =>
      s"len(list_filter(string_split(r$k, '$SS'), x -> x <> '')) AS l$k")
      .mkString(", ")
    val sums = (0 to 5).map(k => s"SUM(freq * l$k) AS t$k").mkString(", ")
    val rows = (0 to 5).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS n_merges, CAST(t$k AS BIGINT) AS corpus_tokens,
         round(CAST(t$k AS DOUBLE) / n_words, 6) AS tokens_per_word FROM tot"""
        .replaceAll("\\n\\s*", " "))
      .mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes,
         aw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
           FROM (SELECT unnest(${duckToks("text")}) AS word FROM documents) u
           GROUP BY 1),
         ch AS (SELECT freq,
             '$SS' || regexp_replace(word, '(.)', '\\1$SS', 'g') AS r0,
             $repDefs
           FROM aw LEFT JOIN t1 ON TRUE LEFT JOIN t2 ON TRUE LEFT JOIN t3 ON TRUE
             LEFT JOIN t4 ON TRUE LEFT JOIN t5 ON TRUE),
         ln AS (SELECT freq, $lens FROM ch),
         tot AS (SELECT SUM(freq) AS n_words, $sums FROM ln)
         SELECT * FROM ($rows) ORDER BY n_merges"""
  }

  /** q125 oracle: q61's pack chain verbatim, fed by the BPE token
    * counts of the shared encode CTEs instead of whitespace counts.
    */
  private lazy val bpePackSql: String = s"""
         WITH $bpeEncodeCtes,
         pc AS (SELECT source, doc_id,
             CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
             COALESCE(SUM(CAST(coalesce(n_tokens, 0) AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM enc)
         SELECT source, CAST(prev // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         FROM pc GROUP BY 1, 2 ORDER BY source, seq_id"""

  /** The q94/q97 shared oracle CTE chain: per-vector int8 quantization,
    * integer code norms, code-space IVF cell assignment (corpus keep-1
    * in `ca`, query-side keep-4 probe in `qa`), within-cell integer-dot
    * scoring, and the rank window (`rk`, filter `rank <= 3`). Mirrors
    * [[graft.ext.Similarity.quantizedIvfTopK]] exactly: the dot
    * products are sums of exact small integers, so double arithmetic
    * here equals the Spark side's LONG fold bit-for-bit.
    */
  private val quantizedCtes: String = s"""cent(cell, cvec) AS (VALUES $ivfCentroids),
         s AS (SELECT vec_id, embedding,
             coalesce(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale0
           FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         qz AS (SELECT vec_id,
             CASE WHEN scale0 > 0 THEN list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127 / scale0) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS code,
             scale0 AS scale FROM s),
         cd AS (SELECT vec_id, code, scale,
             list_transform(code, x -> CAST(x AS DOUBLE)) AS dcode FROM qz),
         nn AS (SELECT vec_id, dcode, scale,
             sqrt(list_inner_product(dcode, dcode)) AS cnorm FROM cd
           WHERE list_inner_product(dcode, dcode) > 0),
         ca AS (SELECT vec_id, dcode, scale, cnorm, cell FROM (
             SELECT vec_id, dcode, scale, cnorm, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY round(list_inner_product(dcode, cvec), 6) DESC, cell) AS rn
             FROM nn, cent) t WHERE rn = 1),
         qa AS (SELECT vec_id, dcode, scale, cnorm, cell FROM (
             SELECT vec_id, dcode, scale, cnorm, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY round(list_inner_product(dcode, cvec), 6) DESC, cell) AS rn
             FROM nn, cent WHERE vec_id < 50) t WHERE rn <= 4),
         pr AS (SELECT qa.vec_id AS q_id, ca.vec_id AS n_id,
             list_inner_product(qa.dcode, ca.dcode) / (qa.cnorm * ca.cnorm) AS sim,
             list_inner_product(qa.dcode, ca.dcode) * qa.scale * ca.scale / 16129.0 AS dot_rec
           FROM qa JOIN ca ON qa.cell = ca.cell AND qa.vec_id <> ca.vec_id),
         rk AS (SELECT q_id, n_id, sim, dot_rec,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM pr)"""

  /** The q86/q89 shared oracle CTE chain: IVF-cell assignment (inlined
    * centroids), cell-size cap, zero-norm filter, within-cell pairs,
    * best-witness window (`ev`, filter `rn = 1` to get the drop list).
    */
  private def semanticPairCtesFor(px: String, pred: String): String =
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

  private lazy val semanticPairCtes: String = semanticPairCtesFor("", "TRUE")

  /** The q90 window-hash terms: plain polynomial sum over the trailing
    * 8 chars, every term BIGINT (31^7 * max code point ~ 3e16 — exact
    * in int64, NOT in a double, so the powers are inlined as integer
    * literals rather than `31 ** k`).
    */
  private val cdcHashTerms: String = (1 to 8).map { k =>
    s"ascii(substr(txt, i - 8 + $k, 1))::BIGINT * ${math.pow(31, 8 - k).toLong}"
  }.mkString(" + ")

  /** 64-term SimHash64 oracle: bit j votes on bit (j mod 4) of hex
    * nibble (j div 4) of md5(token), mirroring
    * [[graft.etl.expressions.SimHash64]]. Bit 63's weight is written
    * as (-max - 1): the bare literal would not parse as a BIGINT, and
    * DuckDB promotes the sum to HUGEINT otherwise; the final CAST back
    * to BIGINT is exact either way but this keeps it int64-native.
    */
  private val simhash64Terms: String = (0 until 64).map { j =>
    val n = j / 4
    val k = j % 4
    val w = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
    s"""CASE WHEN 2 * len(list_filter(toks, t ->
       (((strpos('0123456789abcdef', substr(md5(t), ${n + 1}, 1)) - 1) >> $k) & 1) = 1))
       > len(toks) THEN $w ELSE 0 END""".replaceAll("\n\\s*", " ")
  }.mkString(" + ")

  /** The SimHash64 banded-candidate oracle CTE chain (tokens ->
    * 64-bit fingerprint -> 4x16-bit pigeonhole bands -> capped bucket
    * join -> >= 3-band pairs with fingerprints), shared verbatim by
    * the q85 detector, the q113/q117 drop sets (x-prefixed), and
    * q123's streaming twin. `p` prefixes every CTE name so two
    * instantiations can coexist in one WITH clause.
    */
  private def simhashCandCtes(p: String): String =
    simhashCandCtesFor(p, "TRUE")

  private def simhashCandCtesFor(p: String, pred: String): String = s"""${p}t AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents WHERE $pred),
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

  /** The q113/q117 shared oracle CTE chain: all four detector drop
    * sets re-derived from the detectors' own fragments, ending in
    * `drops(det, doc_id)`.
    */
  /** The q132/q139 shared split-assignment CTE chain: MinHash
    * candidate graph → recursive connected components → cluster
    * representative → naive (doc_id) and cluster (rep) md5-bucket
    * splits, mirroring [[splitAssignments]] exactly. Callers prepend
    * `WITH RECURSIVE`.
    */
  private lazy val splitCtes: String = s"""$bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id),
         rep AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         hx AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hn,
             md5(CAST(rep AS VARCHAR)) AS hr FROM rep),
         spl AS (SELECT doc_id,
             CASE WHEN ${duckBucket("hn")} < 80 THEN 'train'
                  WHEN ${duckBucket("hn")} < 90 THEN 'val'
                  ELSE 'test' END AS naive_split,
             CASE WHEN ${duckBucket("hr")} < 80 THEN 'train'
                  WHEN ${duckBucket("hr")} < 90 THEN 'val'
                  ELSE 'test' END AS cluster_split
           FROM hx)"""

  /** Prefixed/filtered variant of the four-family drop-set chain so a
    * release-slice instance (q167's v1 ledger) can coexist with the
    * full-corpus instance in one WITH list. `docPred` filters the
    * `documents` seeds, `embPred` the `embeddings` seed.
    */
  private def dedupDropsCtesFor(px: String, docPred: String,
      embPred: String): String = s"""${bandedSigSqlFor(px, docPred)},
         ${px}mhp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM ${px}lng a JOIN ${px}lng b ON a.band = b.band
             AND a.sigkey = b.sigkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
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

  private lazy val dedupDropsCtes: String =
    dedupDropsCtesFor("", "TRUE", "TRUE")

  /** q162's full ledger rule as prefixed CTEs ending in
    * `${px}led(doc_id, source, lang, n_words, drop_reason)` — ONE
    * generator, so q162's oracle and both release instances inside
    * q167's oracle evaluate literally the same SQL rule text.
    */
  private def ledgerCtesFor(px: String, docPred: String,
      embPred: String): String = s"""${dedupDropsCtesFor(px, docPred, embPred)},
         ${px}cgr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
           FROM ${px}sh GROUP BY 1),
         ${px}cix AS (SELECT cc.a_id, cc.b_id,
             CAST(COUNT(*) AS BIGINT) AS n_common
           FROM ${px}mhp cc JOIN ${px}sh x ON x.doc_id = cc.a_id
             JOIN ${px}sh y ON y.doc_id = cc.b_id AND y.shingle = x.shingle
           GROUP BY 1, 2),
         ${px}cm AS (SELECT cc.a_id, cc.b_id, ga.ng AS na, gb.ng AS nb,
             COALESCE(${px}cix.n_common, 0) AS n_common
           FROM ${px}mhp cc JOIN ${px}cgr ga ON ga.doc_id = cc.a_id
             JOIN ${px}cgr gb ON gb.doc_id = cc.b_id
             LEFT JOIN ${px}cix ON ${px}cix.a_id = cc.a_id
               AND ${px}cix.b_id = cc.b_id),
         ${px}cdrop AS (SELECT DISTINCT CASE WHEN ca > cb THEN a_id
             WHEN cb > ca THEN b_id ELSE greatest(a_id, b_id) END AS doc_id
           FROM (SELECT a_id, b_id,
               round(CAST(n_common AS DOUBLE) / na, 6) AS ca,
               round(CAST(n_common AS DOUBLE) / nb, 6) AS cb
             FROM ${px}cm WHERE na > 0 AND nb > 0) tt
           WHERE greatest(ca, cb) >= 0.5),
         ${px}qt AS (SELECT doc_id, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents
           WHERE $docPred),
         ${px}qm AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE), 6) AS mwl,
             round(CAST(len(list_filter(ltoks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS sr,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS df
           FROM ${px}qt),
         ${px}dw AS (SELECT doc_id, $duckNormWords AS words FROM documents
           WHERE $docPred),
         ${px}dgp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM ${px}dw WHERE len(words) >= 8),
         ${px}dg AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM ${px}dgp),
         ${px}dheld AS (SELECT DISTINCT gh FROM ${px}dg
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         ${px}dcon AS (SELECT DISTINCT doc_id FROM ${px}dg
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
             AND gh IN (SELECT gh FROM ${px}dheld)),
         ${px}led AS (SELECT d.doc_id, d.source, d.lang, ${px}qm.n_words,
             CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) = '0'
                 THEN 'heldout'
               WHEN NOT (${px}qm.n_words >= 50 AND ${px}qm.n_words <= 100000
                 AND ${px}qm.mwl >= 3.0 AND ${px}qm.mwl <= 10.0
                 AND ${px}qm.sr >= 0.02 AND ${px}qm.df <= 0.9) THEN 'quality'
               WHEN d.doc_id IN (SELECT doc_id FROM ${px}dcon)
                 THEN 'decontaminated'
               WHEN d.doc_id IN (SELECT doc_id FROM ${px}drops
                 WHERE det = 'minhash') THEN 'minhash'
               WHEN d.doc_id IN (SELECT doc_id FROM ${px}drops
                 WHERE det = 'simhash') THEN 'simhash'
               WHEN d.doc_id IN (SELECT doc_id FROM ${px}drops
                 WHERE det = 'span') THEN 'span'
               WHEN d.doc_id IN (SELECT doc_id FROM ${px}drops
                 WHERE det = 'semantic') THEN 'semantic'
               WHEN d.doc_id IN (SELECT doc_id FROM ${px}cdrop)
                 THEN 'containment'
               ELSE 'kept' END AS drop_reason
           FROM documents d JOIN ${px}qm ON ${px}qm.doc_id = d.doc_id)"""

  val oracleSql: Map[String, String] = Map(
    "q21_dedup_exact" ->
      """SELECT md5(lower(substr(text, 1, 40))) AS content_hash,
         MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "q22_minhash_candidates" -> s"""
         WITH $bandedSigSql
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_bands
         FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
           AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a_id, b_id""",
    "q23_simhash" -> s"""
         WITH t AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents)
         SELECT doc_id, CAST($simhashTerms AS BIGINT) AS simhash
         FROM t ORDER BY doc_id""",
    "q85_simhash_neardup" -> s"""
         WITH ${simhashCandCtes("")}
         SELECT a_id, b_id, CAST(bit_count(xor(ash, bsh)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(ash, bsh)) <= 3
         ORDER BY a_id, b_id""",
    // the STREAMING SimHash incremental path must be value-identical
    // to the q85 batch detector on the delta-vs-base (md5-split) slice
    "q123_stream_simhash" -> s"""
         WITH ${simhashCandCtes("")},
         sd AS (SELECT doc_id,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1', '2')
               THEN 'delta' ELSE 'base' END AS side FROM documents)
         SELECT CASE WHEN sa.side = 'delta' THEN c.a_id ELSE c.b_id END AS delta_id,
           CASE WHEN sa.side = 'delta' THEN c.b_id ELSE c.a_id END AS base_id,
           CAST(bit_count(xor(ash, bsh)) AS BIGINT) AS hamming
         FROM cand c JOIN sd sa ON c.a_id = sa.doc_id
           JOIN sd sb ON c.b_id = sb.doc_id
         WHERE sa.side <> sb.side AND bit_count(xor(ash, bsh)) <= 3
         ORDER BY delta_id, base_id""",
    "q86_semantic_dedup" -> s"""
         WITH $semanticPairCtes
         SELECT dropped_id, kept_id, round(sim, 6) AS sim, cell
         FROM ev WHERE rn = 1 ORDER BY dropped_id""",
    "q91_incremental_dedup" -> incrementalDedupSql,
    // the STREAMING incremental path must be value-identical to the
    // batch recompute (q91) and batch persisted (q95) paths: one
    // oracle pins all three
    "q115_stream_neardup" -> incrementalDedupSql,
    // the persisted-signature path (q95) must be value-identical to the
    // recompute path (q91): one oracle pins both
    "q95_incremental_persisted" -> incrementalDedupSql,
    "q92_span_dedup" -> s"""
         WITH t AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         n AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM t),
         sp AS (SELECT doc_id, i AS span_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS span
           FROM (SELECT doc_id, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM n WHERE n_spans >= 1)),
         k AS (SELECT doc_id, span_idx, span, ROW_NUMBER() OVER (
             PARTITION BY substr(md5(span), 1, 16)
             ORDER BY doc_id, span_idx) AS rn FROM sp),
         r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(span, ' ' ORDER BY span_idx) AS clean_text
           FROM k WHERE rn = 1 GROUP BY doc_id)
         SELECT n.doc_id, n.n_spans, COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
         FROM n LEFT JOIN r USING (doc_id) ORDER BY n.doc_id""",
    "q93_bpe_merge" -> s"""
         WITH w AS (SELECT unnest(${duckToks("text")}) AS word FROM documents),
         f AS (SELECT word, COUNT(*) AS freq FROM w
           WHERE len(word) >= 2 GROUP BY 1),
         p AS (SELECT substr(word, i, 2) AS pair, freq
           FROM (SELECT word, freq,
               unnest(generate_series(1, len(word) - 1)) AS i FROM f)),
         a AS (SELECT pair, SUM(freq) AS pair_freq FROM p GROUP BY 1),
         r AS (SELECT pair, pair_freq,
             ROW_NUMBER() OVER (ORDER BY pair_freq DESC, pair) AS merge_rank
           FROM a)
         SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair,
           CAST(pair_freq AS BIGINT) AS pair_freq
         FROM r WHERE merge_rank <= 20 ORDER BY merge_rank""",
    "q96_bpe_train" -> bpeTrainSql,
    "q122_bpe_encode" -> bpeEncodeSql,
    "q125_bpe_pack" -> bpePackSql,
    "q126_bpe_merge_sweep" -> bpeSweepSql,
    "q98_boilerplate" -> s"""
         WITH t AS (SELECT doc_id, source, ${duckToks("text")} AS toks FROM documents),
         n AS (SELECT doc_id, source, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM t),
         sp AS (SELECT doc_id, source, i AS span_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS span
           FROM (SELECT doc_id, source, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM n WHERE n_spans >= 1)),
         sk AS (SELECT doc_id, source, span_idx, span,
             substr(md5(span), 1, 16) AS key FROM sp),
         st AS (SELECT source, key, COUNT(DISTINCT doc_id) AS n_docs
           FROM sk GROUP BY 1, 2),
         r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(span, ' ' ORDER BY span_idx) AS clean_text
           FROM sk JOIN st USING (source, key) WHERE st.n_docs < 2
           GROUP BY doc_id)
         SELECT n.doc_id, n.n_spans, COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
         FROM n LEFT JOIN r USING (doc_id) ORDER BY n.doc_id""",
    "q99_ccnet_buckets" -> """
         WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
         bg AS (SELECT doc_id, substr(txt, i, 1) AS c1, substr(txt, i + 1, 1) AS c2
           FROM t, LATERAL unnest(generate_series(1, len(txt) - 1)) AS u(i)
           WHERE len(txt) >= 2),
         model AS (SELECT c1, c2, count(*) AS cnt FROM bg GROUP BY 1, 2),
         ctx AS (SELECT c1, sum(cnt) AS tot FROM model GROUP BY 1),
         v AS (SELECT count(DISTINCT c2) AS vsize FROM model),
         scored AS (SELECT b.doc_id, round(avg(ln((m.cnt + 1.0) / (x.tot + v.vsize))), 6) AS lm_score
           FROM bg b JOIN model m ON b.c1 = m.c1 AND b.c2 = m.c2
           JOIN ctx x ON b.c1 = x.c1 CROSS JOIN v GROUP BY b.doc_id),
         sl AS (SELECT s.doc_id, d.lang, s.lm_score
           FROM scored s JOIN documents d USING (doc_id)),
         grp AS (SELECT lang, lm_score, COUNT(*) AS cnt FROM sl GROUP BY 1, 2),
         cuts AS (SELECT lang, lm_score,
             COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY lm_score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
             SUM(cnt) OVER (PARTITION BY lang) AS n_lang
           FROM grp)
         SELECT sl.doc_id, sl.lang, sl.lm_score,
           CASE WHEN c.cum_before * 3 < c.n_lang THEN 'head'
                WHEN c.cum_before * 3 < c.n_lang * 2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM sl JOIN cuts c ON sl.lang = c.lang AND sl.lm_score = c.lm_score
         ORDER BY sl.doc_id""",
    "q100_gopher_rules" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents),
         m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE), 6) AS mean_word_len,
             round(CAST(len(list_filter(ltoks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS stopword_ratio,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS dup_frac
           FROM t)
         SELECT doc_id, n_words, mean_word_len, stopword_ratio, dup_frac,
           CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_nwords,
           CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS BIGINT) AS r_wordlen,
           CAST(stopword_ratio >= 0.02 AS BIGINT) AS r_stop,
           CAST(dup_frac <= 0.9 AS BIGINT) AS r_dup,
           CAST(n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND stopword_ratio >= 0.02 AND dup_frac <= 0.9 AS BIGINT) AS keep
         FROM m ORDER BY doc_id""",
    "q101_contamination_frac" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM w WHERE len(words) >= 8),
         g AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM gp),
         held AS (SELECT DISTINCT gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         train AS (SELECT doc_id, gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0')
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN h.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(CAST(SUM(CASE WHEN h.gh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS contam_frac
         FROM train t LEFT JOIN held h USING (gh)
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q102_lsh_precision" -> (s"""
         WITH $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS n_bands
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2),""" + """
         gpos AS (SELECT doc_id, substr(text, 1, 120) AS pre,
           unnest(generate_series(1, greatest(len(substr(text, 1, 120)) - 2, 1))) AS i
           FROM documents),
         g AS (SELECT doc_id, list(DISTINCT substr(pre, i, 3)) AS grams
           FROM gpos GROUP BY 1),
         pairs AS (SELECT c.n_bands,
           CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
           CAST(len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS jac
           FROM cand c JOIN g ga ON c.a_id = ga.doc_id JOIN g gb ON c.b_id = gb.doc_id)
         SELECT n_bands, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
           round(CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS lsh_precision
         FROM pairs GROUP BY n_bands ORDER BY n_bands"""),
    "q103_random_projection" -> s"""
         WITH pl(p, pv) AS (VALUES $signProjRows),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         c AS (SELECT vec_id, p,
             CAST(round(list_inner_product(v, pv) / sqrt(64.0) * 1000000) AS BIGINT) AS comp
           FROM e CROSS JOIN pl)
         SELECT vec_id, string_agg(CAST(comp AS VARCHAR), ',' ORDER BY p) AS proj_micro
         FROM c GROUP BY vec_id ORDER BY vec_id""",
    "q104_hard_negatives" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         c AS (SELECT vec_id AS n_id, label AS n_label,
             embedding::DOUBLE[] AS n_vec FROM embeddings WHERE $usableVec),
         ca AS (SELECT n_id, n_label, n_vec, cell FROM (
           SELECT n_id, n_label, n_vec, cell, ROW_NUMBER() OVER (PARTITION BY n_id
             ORDER BY round(list_inner_product(n_vec, cvec), 6) DESC, cell) AS rn
           FROM c, cent) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, label AS q_label,
             embedding::DOUBLE[] AS q_vec FROM embeddings
           WHERE vec_id < 50 AND $usableVec),
         qa AS (SELECT q_id, q_label, q_vec, cell FROM (
           SELECT q_id, q_label, q_vec, cell, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell) AS rn
           FROM qq, cent) t WHERE rn <= 4),
         s AS (SELECT q_id, q_label, n_id, n_label,
             list_inner_product(q_vec, n_vec) /
               (sqrt(list_inner_product(q_vec, q_vec)) * sqrt(list_inner_product(n_vec, n_vec))) AS sim
           FROM qa JOIN ca USING (cell)
           WHERE q_id <> n_id AND q_label <> n_label),
         r AS (SELECT q_id, q_label, n_id, n_label, sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM s)
         SELECT q_id, q_label, CAST(rank AS BIGINT) AS rank, n_id, n_label,
           round(sim, 6) AS sim FROM r
         WHERE rank <= 3 ORDER BY q_id, rank""",
    "q105_label_balance" -> """
         WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
         m AS (SELECT MAX(n) AS n_max FROM c),
         e AS (SELECT label,
             CAST(ceil(CAST(n_max AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS n_epochs
           FROM c CROSS JOIN m)
         SELECT vec_id, emb.label,
           unnest(generate_series(1, e.n_epochs)) AS epoch
         FROM embeddings emb JOIN e ON emb.label = e.label
         ORDER BY vec_id, epoch""",
    "q90_cdc_chunks" -> s"""
         WITH t AS (SELECT doc_id, text AS txt FROM documents WHERE len(text) > 0),
         pos AS (SELECT doc_id, txt, unnest(generate_series(8, len(txt))) AS i
           FROM t WHERE len(txt) >= 8),
         h AS (SELECT doc_id, i, $cdcHashTerms AS hv FROM pos),
         cuts AS (SELECT doc_id, list(i ORDER BY i) AS cs FROM h
           WHERE hv % 64 = 0 GROUP BY doc_id),
         tc AS (SELECT t.doc_id, t.txt, COALESCE(c.cs, []) AS cs
           FROM t LEFT JOIN cuts c USING (doc_id)),
         parts AS (SELECT doc_id, txt,
             list_prepend(1, list_transform(cs, x -> x + 1)) AS starts,
             list_append(cs, len(txt)) AS ends FROM tc),
         ch AS (SELECT doc_id, unnest(generate_series(1, len(starts))) AS j,
             starts, ends, txt FROM parts)
         SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
           substr(txt, starts[j], ends[j] - starts[j] + 1) AS chunk
         FROM ch WHERE starts[j] <= ends[j]
         ORDER BY doc_id, chunk_idx""",
    "q89_semantic_clusters" -> s"""
         WITH RECURSIVE $semanticPairCtes,
         sel AS (SELECT kept_id, dropped_id FROM ev WHERE rn = 1),
         edges AS (SELECT kept_id AS s, dropped_id AS t FROM sel
           UNION SELECT dropped_id AS s, kept_id AS t FROM sel),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s)
         SELECT id AS vec_id, MIN(comp) AS cluster_id
         FROM reach GROUP BY id ORDER BY vec_id""",
    "q87_bigram_lm" -> """
         WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
         bg AS (SELECT doc_id, substr(txt, i, 1) AS c1, substr(txt, i + 1, 1) AS c2
           FROM t, LATERAL unnest(generate_series(1, len(txt) - 1)) AS u(i)
           WHERE len(txt) >= 2),
         model AS (SELECT c1, c2, count(*) AS cnt FROM bg GROUP BY 1, 2),
         ctx AS (SELECT c1, sum(cnt) AS tot FROM model GROUP BY 1),
         v AS (SELECT count(DISTINCT c2) AS vsize FROM model),
         scored AS (SELECT b.doc_id, ln((m.cnt + 1.0) / (x.tot + v.vsize)) AS lp
           FROM bg b JOIN model m ON b.c1 = m.c1 AND b.c2 = m.c2
           JOIN ctx x ON b.c1 = x.c1 CROSS JOIN v)
         SELECT doc_id, round(avg(lp), 6) AS lm_score,
           count(*) AS n_bigrams
         FROM scored GROUP BY 1 ORDER BY doc_id""",
    "q88_oov_rate" -> s"""
         WITH t AS (SELECT doc_id, unnest(${duckToks("text")}) AS term FROM documents),
         f AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY 1),
         v AS (SELECT term FROM f ORDER BY freq DESC, term LIMIT 20)
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS oov_rate
         FROM t LEFT JOIN v ON t.term = v.term
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q24_ngram_dedup" -> (s"""
         WITH $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2),""" + """
         gpos AS (SELECT doc_id, substr(text, 1, 120) AS pre,
           unnest(generate_series(1, greatest(len(substr(text, 1, 120)) - 2, 1))) AS i
           FROM documents),
         g AS (SELECT doc_id, list(DISTINCT substr(pre, i, 3)) AS grams
           FROM gpos GROUP BY 1),
         pairs AS (SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
           CAST(len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS jac
           FROM cand c JOIN g ga ON c.a_id = ga.doc_id JOIN g gb ON c.b_id = gb.doc_id)
         SELECT a_id, b_id, round(jac, 6) AS jac FROM pairs
         WHERE jac >= 0.5 ORDER BY a_id, b_id"""),
    "q25_knn_cosine" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id < 5 AND $usableVec),
         c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec
           FROM embeddings WHERE $usableVec),
         s AS (SELECT q_id, n_id,
           list_inner_product(q_vec, n_vec) /
             (sqrt(list_inner_product(q_vec, q_vec)) * sqrt(list_inner_product(n_vec, n_vec))) AS sim
           FROM q, c WHERE q_id <> n_id),
         r AS (SELECT q_id, n_id, sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM s)
         SELECT q_id, rank, n_id, round(sim, 6) AS sim FROM r
         WHERE rank <= 5 ORDER BY q_id, rank""",
    "q26_langid" -> s"""
         WITH t AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, t -> list_contains(['the','and','of','is','with'], t))) AS en,
           len(list_filter(toks, t -> list_contains(['le','la','les','et','des'], t))) AS fr,
           len(list_filter(toks, t -> list_contains(['der','die','und','ist','von'], t))) AS de,
           len(list_filter(toks, t -> list_contains(['el','los','las','y','es'], t))) AS es
           FROM t)
         SELECT doc_id,
           CASE WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
                WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
                WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
                WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
                ELSE 'und' END AS lang_guess,
           CAST(en AS BIGINT) AS en_score
         FROM sc ORDER BY doc_id""",
    "q27_quality" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
           len(${duckToks("text")}) AS nw FROM documents)
         SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
             / CAST(nw AS DOUBLE), 6) AS mean_word_len,
           round(CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
             / CAST(len(text) AS DOUBLE), 6) AS punct_ratio,
           round(CAST(len(list_filter(toks, x ->
               list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio
         FROM t ORDER BY doc_id""",
    "q28_token_count" -> s"""
         SELECT doc_id, CAST(len(${duckToks("text")}) AS BIGINT) AS n_ws_tokens,
           greatest(CAST(ceil(len(text) / 4) AS BIGINT),
             CAST(len(${duckToks("text")}) AS BIGINT)) AS subword_est
         FROM documents ORDER BY doc_id""",
    "q29_fingerprint" ->
      """SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, len(text)),
               i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
         FROM documents ORDER BY doc_id""",
    "q30_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
           FROM events),
         f AS (SELECT user_id, event_id, ts,
           CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM g),
         s AS (SELECT user_id, ts,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q73_domain_mix" ->
      """WITH quotas(source, pct) AS (VALUES ('src0', 25), ('src1', 50), ('src2', 75)),
         h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         v AS (SELECT doc_id, source,
           ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
          + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS bucket
           FROM h)
         SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket
         FROM v LEFT JOIN quotas USING (source)
         WHERE bucket < coalesce(pct, 100) ORDER BY doc_id""",
    "q74_kmeans_iter" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         a AS (SELECT vec_id, vec, cell FROM (
           SELECT vec_id, vec, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM e, cent) t WHERE rn = 1),
         x AS (SELECT cell, vec, unnest(generate_series(1, 64)) AS i FROM a)
         SELECT CAST(cell AS BIGINT) AS cell, CAST(i - 1 AS BIGINT) AS pos,
           round(avg(vec[i]), 6) AS c_val, COUNT(*) AS n_members
         FROM x GROUP BY cell, i ORDER BY cell, pos""",
    "q77_domain_epochs" ->
      """WITH epochs(source, n_epochs) AS (VALUES ('src0', 3), ('src1', 2)),
         d AS (SELECT doc_id, documents.source AS source,
             coalesce(n_epochs, 1) AS n
           FROM documents LEFT JOIN epochs ON documents.source = epochs.source)
         SELECT doc_id, source,
           CAST(unnest(generate_series(1, n)) AS BIGINT) AS epoch
         FROM d ORDER BY doc_id, epoch""",
    "q81_embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE coalesce(list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))), 0.0) END AS scale0
         FROM embeddings)
         SELECT vec_id, round(scale0, 6) AS scale,
           array_to_string(list_transform(
             CASE WHEN scale0 > 0 THEN list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127 / scale0) AS INTEGER))
                  ELSE list_transform(embedding, x -> 0) END,
             v -> CAST(v AS VARCHAR)), ',') AS qvec
         FROM s ORDER BY vec_id""",
    "q94_quantized_ann" -> s"""
         WITH $quantizedCtes
         SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id,
           round(sim, 6) AS sim, round(dot_rec, 6) AS dot_rec
         FROM rk WHERE rank <= 3 ORDER BY q_id, rank""",
    "q97_quantized_recall" -> s"""
         WITH $quantizedCtes,
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         q AS (SELECT * FROM e WHERE vec_id < 50),
         bf AS (SELECT q_id, n_id FROM (
           SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
               round(list_inner_product(a.vec, b.vec) /
                 (sqrt(list_inner_product(a.vec, a.vec)) * sqrt(list_inner_product(b.vec, b.vec))), 6) DESC,
               b.vec_id) AS rank
           FROM q a JOIN e b ON a.vec_id <> b.vec_id) t WHERE rank <= 3),
         ap AS (SELECT q_id, n_id FROM rk WHERE rank <= 3)
         SELECT bf.q_id, COUNT(ap.n_id) AS n_hits,
           round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
         FROM bf LEFT JOIN ap ON bf.q_id = ap.q_id AND bf.n_id = ap.n_id
         GROUP BY bf.q_id ORDER BY bf.q_id""",
    "q82_chunk_docs" ->
      """WITH c AS (SELECT doc_id, text,
           unnest(range(0, greatest(len(text), 1), 400)) AS chunk_start
         FROM documents)
         SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_start + 1 AS INTEGER), 500) AS chunk,
           CAST(len(substr(text, CAST(chunk_start + 1 AS INTEGER), 500)) AS BIGINT) AS n_chars
         FROM c ORDER BY doc_id, chunk_start""",
    "q76_ann_recall" -> s"""
         WITH planes(bit, pvec) AS (VALUES $lshPlanes),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         q AS (SELECT * FROM e WHERE vec_id < 50),
         bf AS (SELECT q_id, n_id FROM (
           SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
               round(list_inner_product(a.vec, b.vec) /
                 (sqrt(list_inner_product(a.vec, a.vec)) * sqrt(list_inner_product(b.vec, b.vec))), 6) DESC,
               b.vec_id) AS rank
           FROM q a JOIN e b ON a.vec_id <> b.vec_id) t WHERE rank <= 3),
         sg AS (SELECT vec_id, CAST(SUM(CASE WHEN
             list_inner_product(vec, pvec) >= 0 THEN bit ELSE 0 END) AS BIGINT) AS sig
           FROM e, planes GROUP BY vec_id),
         b AS (SELECT e.vec_id, e.vec, sg.sig FROM e JOIN sg USING (vec_id)),
         ap AS (SELECT q_id, n_id FROM (
           SELECT a.vec_id AS q_id, c.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
               round(list_inner_product(a.vec, c.vec) /
                 (sqrt(list_inner_product(a.vec, a.vec)) * sqrt(list_inner_product(c.vec, c.vec))), 6) DESC,
               c.vec_id) AS rank
           FROM b a JOIN b c ON a.sig = c.sig AND a.vec_id <> c.vec_id
           WHERE a.vec_id < 50) t WHERE rank <= 3)
         SELECT bf.q_id, COUNT(ap.n_id) AS n_hits,
           round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
         FROM bf LEFT JOIN ap ON bf.q_id = ap.q_id AND bf.n_id = ap.n_id
         GROUP BY bf.q_id ORDER BY bf.q_id""",
    "q36_embed_neardup" -> s"""
         WITH planes(bit, pvec) AS (VALUES $lshPlanes),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         sg AS (SELECT vec_id, CAST(SUM(CASE WHEN
             list_inner_product(vec, pvec) >= 0 THEN bit ELSE 0 END) AS BIGINT) AS sig
           FROM e, planes GROUP BY vec_id),
         b AS (SELECT e.vec_id, e.vec, sg.sig FROM e JOIN sg USING (vec_id)),
         s AS (SELECT a.vec_id AS q_id, c.vec_id AS n_id,
             list_inner_product(a.vec, c.vec) /
               (sqrt(list_inner_product(a.vec, a.vec)) * sqrt(list_inner_product(c.vec, c.vec))) AS sim
           FROM b a JOIN b c ON a.sig = c.sig AND a.vec_id <> c.vec_id),
         r AS (SELECT q_id, n_id, sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM s)
         SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, round(sim, 6) AS sim FROM r
         WHERE rank <= 3 AND round(sim, 6) >= 0.2 ORDER BY q_id, rank""",
    "q44_ivf_ann" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec FROM embeddings
           WHERE $usableVec),
         ca AS (SELECT n_id, n_vec, cell FROM (
           SELECT n_id, n_vec, cell, ROW_NUMBER() OVER (PARTITION BY n_id
             ORDER BY round(list_inner_product(n_vec, cvec), 6) DESC, cell) AS rn
           FROM c, cent) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings
           WHERE vec_id < 50 AND $usableVec),
         qa AS (SELECT q_id, q_vec, cell FROM (
           SELECT q_id, q_vec, cell, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell) AS rn
           FROM qq, cent) t WHERE rn <= 4),
         s AS (SELECT q_id, n_id,
             list_inner_product(q_vec, n_vec) /
               (sqrt(list_inner_product(q_vec, q_vec)) * sqrt(list_inner_product(n_vec, n_vec))) AS sim
           FROM qa JOIN ca USING (cell) WHERE q_id <> n_id),
         r AS (SELECT q_id, n_id, sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM s)
         SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, round(sim, 6) AS sim FROM r
         WHERE rank <= 3 ORDER BY q_id, rank""",
    "q45_dedup_clusters" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s)
         SELECT id AS doc_id, MIN(comp) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "q46_train_split" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         v AS (SELECT doc_id,
           ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
          + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS bucket
           FROM h)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         FROM v ORDER BY doc_id""",
    "q47_pii_redact" ->
      """WITH raw AS (SELECT doc_id,
           substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or +33 6 '
             || lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0') AS raw
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\+[0-9][0-9 ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw,
             '\+[0-9][0-9 ]{6,}[0-9]')) AS BIGINT) AS n_phones
         FROM raw ORDER BY doc_id""",
    "q48_tfidf" -> s"""
         WITH toks AS (SELECT doc_id, unnest(${duckToks("text")}) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         sc AS (SELECT doc_id, term,
             round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
           FROM tf JOIN dfreq USING (term), n),
         r AS (SELECT doc_id, term, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
           FROM sc)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q49_stratified_sample" ->
      """SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM (
           SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) t
         WHERE rn <= 20 ORDER BY lang, rn""",
    "q59_decontaminate" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM w WHERE len(words) >= 8),
         g AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM gp),
         held AS (SELECT DISTINCT gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         train AS (SELECT doc_id, gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
         FROM train JOIN held USING (gh)
         GROUP BY doc_id ORDER BY doc_id""",
    "q84_decontaminate_bloom" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM w WHERE len(words) >= 8),
         g AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM gp),
         held AS (SELECT DISTINCT gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         train AS (SELECT doc_id, gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
         FROM train JOIN held USING (gh)
         GROUP BY doc_id ORDER BY doc_id""",
    "q64_curation_pipeline" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         noncanon AS (SELECT id AS doc_id FROM
           (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) cc
           WHERE id <> comp),
         nw AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         ngp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM nw WHERE len(words) >= 8),
         ng AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM ngp),
         held AS (SELECT DISTINCT gh FROM ng
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         contam AS (SELECT DISTINCT doc_id FROM ng JOIN held USING (gh)
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'),
         dmeta AS (SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hb,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         surv AS (SELECT doc_id, source, n_tokens FROM dmeta
           WHERE n_tokens >= 25 AND hb <> '0'
             AND doc_id NOT IN (SELECT doc_id FROM noncanon)
             AND doc_id NOT IN (SELECT doc_id FROM contam)),
         c AS (SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM surv)
         SELECT source, CAST(prev // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         FROM c GROUP BY 1, 2 ORDER BY source, seq_id""",
    "q63_vocab" -> s"""
         WITH t AS (SELECT unnest(${duckToks("text")}) AS term FROM documents),
         f AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY 1),
         r AS (SELECT term, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS vocab_id FROM f)
         SELECT CAST(vocab_id AS BIGINT) AS vocab_id, term,
           CAST(freq AS BIGINT) AS freq
         FROM r WHERE vocab_id <= 1000 ORDER BY vocab_id""",
    "q62_dup_text_frac" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM w WHERE len(words) >= 8),
         g AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM gp),
         dupg AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
         dup AS (SELECT doc_id, COUNT(*) AS n_dup_grams
           FROM g JOIN dupg USING (gh) GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN COALESCE(t.n_grams, 0) = 0 THEN 0.0 ELSE
             round(CAST(COALESCE(p.n_dup_grams, 0) AS DOUBLE)
               / CAST(t.n_grams AS DOUBLE), 6) END AS dup_frac
         FROM documents d
         LEFT JOIN tot t USING (doc_id) LEFT JOIN dup p USING (doc_id)
         ORDER BY doc_id""",
    "q60_repeated_ngrams" -> s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         g AS (SELECT doc_id,
             list_transform(generate_series(1, len(words) - 1),
               i -> array_to_string(words[i:i+1], ' ')) AS g2,
             list_transform(generate_series(1, len(words) - 2),
               i -> array_to_string(words[i:i+2], ' ')) AS g3
           FROM w),
         m AS (SELECT doc_id,
             CAST(len(g2) AS BIGINT) AS n_2grams,
             CASE WHEN len(g2) = 0 THEN 0.0 ELSE
               round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                 / CAST(len(g2) AS DOUBLE), 6) END AS dup2_frac,
             CASE WHEN len(g3) = 0 THEN 0.0 ELSE
               round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                 / CAST(len(g3) AS DOUBLE), 6) END AS dup3_frac
           FROM g)
         SELECT doc_id, n_2grams, dup2_frac, dup3_frac,
           CAST(CASE WHEN dup2_frac > 0.2 THEN 1 ELSE 0 END AS BIGINT)
             AS is_repetitive
         FROM m ORDER BY doc_id""",
    "q61_pack_sequences" -> s"""
         WITH t AS (SELECT source, doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM t)
         SELECT source, CAST(prev // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         FROM c GROUP BY 1, 2 ORDER BY source, seq_id""",
    "q31_multimodal" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
         d AS (SELECT doc_id, n_bytes,
           CAST(32 + n_bytes % 224 AS BIGINT) AS width,
           CAST(32 + (n_bytes * 7) % 224 AS BIGINT) AS height,
           CAST(1 + n_bytes % 16 AS BIGINT) AS n_frames
           FROM m)
         SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, width, height, n_frames,
           array_to_string(list_transform(generate_series(0, n_frames - 1),
             i -> i * (n_bytes // n_frames)), ',') AS frame_offsets
         FROM d ORDER BY doc_id""",
    "q107_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS old_hash FROM documents
           WHERE doc_id % 7 <> 0),
         nw AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS new_hash
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_hash <> n.new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.old_hash AS old_hash, n.new_hash AS new_hash
         FROM old o FULL JOIN nw n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",
    "q108_quality_classifier" -> s"""
         WITH $duckQualityCtes
         SELECT doc_id, quality_score,
           CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS keep
         FROM sc ORDER BY doc_id""",
    "q109_cluster_survivor" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         cl AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
         j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
           FROM cl JOIN documents d USING (doc_id)),
         r AS (SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
               ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
           FROM j)
         SELECT cluster_id, doc_id AS survivor_id,
           CAST(n_chars AS BIGINT) AS survivor_chars, n_members
         FROM r WHERE rn = 1 ORDER BY cluster_id""",
    "q110_source_coverage" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
           FROM documents GROUP BY 1),
         c AS (SELECT source, n_docs, n_chars,
             SUM(n_docs) OVER () AS total,
             SUM(n_docs) OVER (ORDER BY n_docs DESC, source) AS cum
           FROM s)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           round(CAST(n_docs AS DOUBLE) / total, 6) AS share,
           round(CAST(cum AS DOUBLE) / total, 6) AS cum_share,
           CASE WHEN round(CAST(cum - n_docs AS DOUBLE) / total, 6) < 0.9
             THEN 1 ELSE 0 END AS in_head90
         FROM c ORDER BY source""",
    "q111_ngram_novelty" ->
      """WITH pos AS (SELECT doc_id, text,
           unnest(generate_series(1, greatest(len(text) - 7, 1))) AS i FROM documents),
         sh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS g FROM pos),
         m AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
         SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           round(CAST(SUM(CASE WHEN m.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novel_frac
         FROM sh s JOIN m ON s.g = m.g
         GROUP BY 1 ORDER BY 1""",
    // q113 composes the four detectors' own oracle fragments (banded
    // MinHash CTEs, the 64-term SimHash chain, q92's span chain, the
    // semantic pair CTEs) with collision-free prefixes, so the
    // agreement matrix is pinned by exactly the same re-derivations
    // that pin each detector individually.
    "q113_dedup_agreement" -> s"""
         WITH $dedupDropsCtes,
         dsizes AS (SELECT det, COUNT(*) AS n FROM drops GROUP BY 1),
         dspine(det_a, det_b) AS (VALUES
           ('minhash', 'semantic'), ('minhash', 'simhash'), ('minhash', 'span'),
           ('semantic', 'simhash'), ('semantic', 'span'), ('simhash', 'span')),
         dinter AS (SELECT a.det AS det_a, b.det AS det_b, COUNT(*) AS n_both
           FROM drops a JOIN drops b ON a.doc_id = b.doc_id AND a.det < b.det
           GROUP BY 1, 2)
         SELECT dspine.det_a, dspine.det_b,
           COALESCE(sa.n, 0) AS n_a, COALESCE(sb.n, 0) AS n_b,
           COALESCE(i.n_both, 0) AS n_both,
           round(CAST(COALESCE(i.n_both, 0) AS DOUBLE) /
             NULLIF(COALESCE(sa.n, 0) + COALESCE(sb.n, 0) - COALESCE(i.n_both, 0), 0),
             6) AS jaccard
         FROM dspine
         LEFT JOIN dsizes sa ON dspine.det_a = sa.det
         LEFT JOIN dsizes sb ON dspine.det_b = sb.det
         LEFT JOIN dinter i ON dspine.det_a = i.det_a AND dspine.det_b = i.det_b
         ORDER BY dspine.det_a, dspine.det_b""",
    // absolute twin of q113: each detector's drop set scored against
    // the planted-family truth (non-minimal doc_ids per text root
    // after stripping trailing " dup" repeats)
    "q124_detector_truth_eval" -> s"""
         WITH $dedupDropsCtes,
         tr AS (SELECT doc_id FROM (
             SELECT doc_id, MIN(doc_id) OVER (PARTITION BY
               substr(md5(regexp_replace(text, '( dup)+$$', '')), 1, 16)) AS keep
             FROM documents) t WHERE doc_id <> keep),
         tc AS (SELECT COUNT(*) AS n_truth FROM tr),
         st AS (SELECT det, COUNT(*) AS n_dropped, COUNT(tr.doc_id) AS n_hit
           FROM drops LEFT JOIN tr USING (doc_id) GROUP BY det),
         tspine(det) AS (VALUES
           ('minhash'), ('semantic'), ('simhash'), ('span'))
         SELECT tspine.det,
           CAST(COALESCE(st.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(tc.n_truth AS BIGINT) AS n_truth,
           CAST(COALESCE(st.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN COALESCE(st.n_dropped, 0) > 0
             THEN round(CAST(st.n_hit AS DOUBLE) / st.n_dropped, 6) END AS prec,
           CASE WHEN tc.n_truth > 0
             THEN round(CAST(COALESCE(st.n_hit, 0) AS DOUBLE) / tc.n_truth, 6)
           END AS recall
         FROM tspine CROSS JOIN tc
         LEFT JOIN st ON tspine.det = st.det
         ORDER BY tspine.det""",
    "q114_lsh_recall" -> (s"""
         WITH $bandedSigSql,
         cpair AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         cdir AS (SELECT a_id AS q_id, b_id AS n_id FROM cpair
           UNION ALL SELECT b_id AS q_id, a_id AS n_id FROM cpair),""" + """
         gpos AS (SELECT doc_id, substr(text, 1, 120) AS pre,
           unnest(generate_series(1, greatest(len(substr(text, 1, 120)) - 2, 1))) AS i
           FROM documents),
         g AS (SELECT doc_id, list(DISTINCT substr(pre, i, 3)) AS grams
           FROM gpos GROUP BY 1),
         truth AS (SELECT gq.doc_id AS q_id, go.doc_id AS n_id
           FROM g gq JOIN g go ON gq.doc_id % 29 = 0 AND go.doc_id <> gq.doc_id
           WHERE CAST(len(list_intersect(gq.grams, go.grams)) AS DOUBLE) /
             CAST(len(gq.grams) + len(go.grams)
               - len(list_intersect(gq.grams, go.grams)) AS DOUBLE) >= 0.5)
         SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(c.n_id) AS BIGINT) AS n_found,
           round(CAST(COUNT(c.n_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS recall
         FROM truth t LEFT JOIN cdir c ON t.q_id = c.q_id AND t.n_id = c.n_id
         GROUP BY t.q_id ORDER BY t.q_id"""),
    "q117_source_dedup_report" -> s"""
         WITH $dedupDropsCtes,
         st AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         dd AS (SELECT doc.source, dr.det, COUNT(*) AS n_dropped
           FROM drops dr JOIN documents doc ON dr.doc_id = doc.doc_id
           GROUP BY 1, 2)
         SELECT dd.source, dd.det, dd.n_dropped, st.n_docs,
           round(CAST(dd.n_dropped AS DOUBLE) / CAST(st.n_docs AS DOUBLE), 6)
             AS drop_frac
         FROM dd JOIN st ON dd.source = st.source
         ORDER BY dd.source, dd.det""",
    "q116_classifier_auc" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(len(toks) AS BIGINT) AS n_words_l,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mwl,
             CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE) AS punct,
             CAST(len(list_filter(toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stop,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS dup_frac
           FROM t),
         scored AS (SELECT
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6) AS score,
             CAST(n_words_l >= 50 AND n_words_l <= 100000
               AND round(mwl, 6) >= 3.0 AND round(mwl, 6) <= 10.0
               AND round(stop, 6) >= 0.02 AND dup_frac <= 0.9 AS BIGINT) AS label
           FROM f),
         gs AS (SELECT score, COUNT(*) AS n, SUM(label) AS n_pos
           FROM scored GROUP BY 1),
         r AS (SELECT score, n, n_pos,
             COALESCE(SUM(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
           FROM gs)
         SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n - n_pos) AS BIGINT) AS n_neg,
           round((SUM(CAST(n_pos AS DOUBLE) * (cumb + (n + 1.0) / 2.0))
             - CAST(SUM(n_pos) AS DOUBLE) * (CAST(SUM(n_pos) AS DOUBLE) + 1.0) / 2.0)
             / NULLIF(CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n - n_pos) AS DOUBLE), 0),
             6) AS auc
         FROM r""",
    "q118_semantic_tau_sweep" -> s"""
         WITH $semanticPairCtes,
         maxs AS (SELECT dropped_id, MAX(round(sim, 6)) AS max_sim
           FROM pairs GROUP BY 1)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN max_sim >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tau_30,
           CAST(SUM(CASE WHEN max_sim >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_tau_40,
           CAST(SUM(CASE WHEN max_sim >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_tau_50,
           CAST(SUM(CASE WHEN max_sim >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_tau_60,
           CAST(SUM(CASE WHEN max_sim >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_tau_70,
           CAST(SUM(CASE WHEN max_sim >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_tau_80
         FROM maxs""",
    "q119_quality_resample" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mwl,
             CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE) AS punct,
             CAST(len(list_filter(toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stop
           FROM t),
         sc AS (SELECT doc_id,
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6)
               AS quality_score,
             round(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
               AS BIGINT) AS DOUBLE) / 16777215.0, 6) AS u
           FROM f)
         SELECT doc_id, quality_score, u FROM sc
         WHERE u < quality_score ORDER BY doc_id""",
    "q120_weighted_sample" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mwl,
             CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE) AS punct,
             CAST(len(list_filter(toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stop
           FROM t),
         sc AS (SELECT doc_id,
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6)
               AS quality_score,
             greatest(round(CAST(CAST('0x' ||
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS DOUBLE)
               / 16777215.0, 6), 1e-9) AS u
           FROM f),
         k AS (SELECT doc_id, quality_score,
             round(pow(u, 1.0 / quality_score), 6) AS skey FROM sc)
         SELECT doc_id, quality_score, skey FROM k
         ORDER BY skey DESC, doc_id LIMIT 100""",
    "q121_ivf_probe_sweep" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec FROM embeddings
           WHERE $usableVec),
         ca AS (SELECT n_id, n_vec, cell FROM (
           SELECT n_id, n_vec, cell, ROW_NUMBER() OVER (PARTITION BY n_id
             ORDER BY round(list_inner_product(n_vec, cvec), 6) DESC, cell) AS rn
           FROM c, cent) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings
           WHERE vec_id < 50 AND $usableVec),
         qa AS (SELECT q_id, q_vec, cell, rn AS crank FROM (
           SELECT q_id, q_vec, cell, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell) AS rn
           FROM qq, cent) t WHERE rn <= 16),
         es AS (SELECT q.q_id, cc.n_id,
             list_inner_product(q.q_vec, cc.n_vec) /
               (sqrt(list_inner_product(q.q_vec, q.q_vec)) *
                sqrt(list_inner_product(cc.n_vec, cc.n_vec))) AS sim
           FROM qq q, c cc WHERE q.q_id <> cc.n_id),
         ex AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id) AS rank FROM es) t
           WHERE rank <= 3),
         sv AS (SELECT qa.crank, qa.q_id, ca.n_id,
             list_inner_product(qa.q_vec, ca.n_vec) /
               (sqrt(list_inner_product(qa.q_vec, qa.q_vec)) *
                sqrt(list_inner_product(ca.n_vec, ca.n_vec))) AS sim
           FROM qa JOIN ca USING (cell) WHERE qa.q_id <> ca.n_id),
         probes(p) AS (VALUES (1), (2), (4), (8), (16)),
         rp AS (SELECT probes.p, sv.q_id, sv.n_id,
             ROW_NUMBER() OVER (PARTITION BY probes.p, sv.q_id
               ORDER BY round(sv.sim, 6) DESC, sv.n_id) AS rank
           FROM probes JOIN sv ON sv.crank <= probes.p),
         ap AS (SELECT p, q_id, n_id FROM rp WHERE rank <= 3)
         SELECT CAST(probes.p AS BIGINT) AS n_probe,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.n_id) AS BIGINT) AS n_found,
           round(CAST(COUNT(a.n_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS recall
         FROM probes CROSS JOIN ex e
         LEFT JOIN ap a ON a.p = probes.p AND a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY probes.p ORDER BY n_probe""",
    "q127_pq_ann" -> s"""
         WITH $pqAdcCtes
         SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, round(adc, 6) AS adc
         FROM adcr WHERE rank <= 3 ORDER BY q_id, rank""",
    "q128_pq_recall" -> s"""
         WITH $pqAdcCtes,
         ap AS (SELECT q_id, n_id FROM adcr WHERE rank <= 3),
         es AS (SELECT q.q_id, cc.n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.n_vec), 6) DESC,
               cc.n_id) AS rank
           FROM qq q, c cc WHERE q.q_id <> cc.n_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3)
         SELECT ex.q_id, CAST(COUNT(ap.n_id) AS BIGINT) AS n_hits,
           round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
         FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
         GROUP BY ex.q_id ORDER BY ex.q_id""",
    "q129_pq_distortion" -> s"""
         WITH pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         keys AS (SELECT e.vec_id, p.sub, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(
                   list_slice(e.vec, p.sub * 8 + 1, p.sub * 8 + 8), p.pvec) AS key,
             list_inner_product(
               list_slice(e.vec, p.sub * 8 + 1, p.sub * 8 + 8),
               list_slice(e.vec, p.sub * 8 + 1, p.sub * 8 + 8)) AS svv
           FROM e, pqc p),
         best AS (SELECT vec_id, sub, svv + key AS sqerr FROM (
           SELECT vec_id, sub, key, svv, ROW_NUMBER() OVER (
             PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
           FROM keys) t WHERE rn = 1)
         SELECT CAST(sub AS BIGINT) AS sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(AVG(sqerr), 6) AS mse
         FROM best GROUP BY sub ORDER BY sub""",
    "q130_pq_train" -> s"""
         WITH $pqTrainCtes
         SELECT CAST(sub AS BIGINT) AS sub, CAST(c AS BIGINT) AS c,
           CAST(pos AS BIGINT) AS pos, round(AVG(vv), 6) AS c_val,
           CAST(COUNT(*) AS BIGINT) AS n_members
         FROM vals GROUP BY sub, c, pos ORDER BY sub, c, pos""",
    "q131_pq_refine_gain" -> s"""
         WITH $pqTrainCtes,
         ref AS (SELECT sub, c, pos, round(AVG(vv), 6) AS c_val
           FROM vals GROUP BY sub, c, pos),
         rcb AS (SELECT sub, c, list(c_val ORDER BY pos) AS rvec
           FROM ref GROUP BY sub, c),
         stat AS (SELECT vec_id, sub, svv + key AS e0 FROM (
           SELECT k.vec_id, k.sub, k.key,
             list_inner_product(
               list_slice(e.vec, k.sub * 8 + 1, k.sub * 8 + 8),
               list_slice(e.vec, k.sub * 8 + 1, k.sub * 8 + 8)) AS svv,
             ROW_NUMBER() OVER (PARTITION BY k.vec_id, k.sub
               ORDER BY round(k.key, 6), k.c) AS rn
           FROM keys k JOIN e USING (vec_id)) t WHERE rn = 1),
         rkeys AS (SELECT e.vec_id, r.sub, r.c,
             list_inner_product(r.rvec, r.rvec)
               - 2 * list_inner_product(
                   list_slice(e.vec, r.sub * 8 + 1, r.sub * 8 + 8), r.rvec) AS key,
             list_inner_product(
               list_slice(e.vec, r.sub * 8 + 1, r.sub * 8 + 8),
               list_slice(e.vec, r.sub * 8 + 1, r.sub * 8 + 8)) AS svv
           FROM e, rcb r),
         reft AS (SELECT vec_id, sub, svv + key AS e1 FROM (
           SELECT vec_id, sub, key, svv, ROW_NUMBER() OVER (
             PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
           FROM rkeys) t WHERE rn = 1)
         SELECT CAST(s.sub AS BIGINT) AS sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(AVG(s.e0), 6) AS mse_static, round(AVG(r.e1), 6) AS mse_refined
         FROM stat s JOIN reft r ON s.vec_id = r.vec_id AND s.sub = r.sub
         GROUP BY s.sub ORDER BY sub""",
    "q132_leakage_safe_split" -> s"""
         WITH RECURSIVE $splitCtes,
         j AS (SELECT sa.naive_split AS a_n, sa.cluster_split AS a_c,
             sb.naive_split AS b_n, sb.cluster_split AS b_c
           FROM cand JOIN spl sa ON cand.a_id = sa.doc_id
           JOIN spl sb ON cand.b_id = sb.doc_id),
         ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN a_n <> b_n THEN 1 ELSE 0 END) AS BIGINT)
               AS cross_naive,
             CAST(SUM(CASE WHEN a_c <> b_c THEN 1 ELSE 0 END) AS BIGINT)
               AS cross_cluster FROM j)
         SELECT 'cluster' AS policy, n_pairs, cross_cluster AS cross_pairs,
           CASE WHEN n_pairs > 0
             THEN round(CAST(cross_cluster AS DOUBLE) / n_pairs, 6) END AS leak_frac
         FROM ag
         UNION ALL
         SELECT 'naive' AS policy, n_pairs, cross_naive AS cross_pairs,
           CASE WHEN n_pairs > 0
             THEN round(CAST(cross_naive AS DOUBLE) / n_pairs, 6) END AS leak_frac
         FROM ag ORDER BY policy""",
    "q133_source_weighted_sample" -> s"""
         WITH t AS (SELECT doc_id, source, text, ${duckToks("text")} AS toks
           FROM documents),
         f AS (SELECT doc_id, source,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mwl,
             CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE) AS punct,
             CAST(len(list_filter(toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stop
           FROM t),
         sc AS (SELECT doc_id, source,
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6)
               AS quality_score,
             greatest(round(CAST(CAST('0x' ||
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS DOUBLE)
               / 16777215.0, 6), 1e-9) AS u
           FROM f),
         k AS (SELECT doc_id, source, quality_score,
             round(pow(u, 1.0 / quality_score), 6) AS skey FROM sc),
         r AS (SELECT source, doc_id, quality_score, skey,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY skey DESC, doc_id) AS BIGINT) AS rk FROM k)
         SELECT source, rk, doc_id, quality_score, skey FROM r
         WHERE rk <= 5 ORDER BY source, rk""",
    "q134_truncation_recall" -> s"""
         WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 50),
         es AS (SELECT q.q_id, b.vec_id AS n_id,
             list_inner_product(q.q_vec, b.vec) /
               (sqrt(list_inner_product(q.q_vec, q.q_vec)) *
                sqrt(list_inner_product(b.vec, b.vec))) AS sim
           FROM qq q, e b WHERE q.q_id <> b.vec_id),
         ex AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id) AS rank FROM es) t
           WHERE rank <= 3),
         dims(td) AS (VALUES (8), (16), (32), (64)),
         pv AS (SELECT dims.td, e.vec_id,
             list_slice(e.vec, 1, dims.td) AS pvec,
             sqrt(list_inner_product(list_slice(e.vec, 1, dims.td),
               list_slice(e.vec, 1, dims.td))) AS pnorm
           FROM dims, e),
         tv AS (SELECT a.td, a.vec_id AS q_id, b.vec_id AS n_id,
             CASE WHEN a.pnorm > 0 AND b.pnorm > 0
               THEN list_inner_product(a.pvec, b.pvec) / (a.pnorm * b.pnorm)
               ELSE -2.0 END AS sim
           FROM pv a JOIN pv b ON a.td = b.td AND a.vec_id <> b.vec_id
           WHERE a.vec_id < 50),
         rp AS (SELECT td, q_id, n_id, ROW_NUMBER() OVER (PARTITION BY td, q_id
             ORDER BY round(sim, 6) DESC, n_id) AS rank FROM tv),
         ap AS (SELECT td, q_id, n_id FROM rp WHERE rank <= 3)
         SELECT CAST(dims.td AS BIGINT) AS trunc_dim,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.n_id) AS BIGINT) AS n_found,
           round(CAST(COUNT(a.n_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS recall
         FROM dims CROSS JOIN ex e
         LEFT JOIN ap a ON a.td = dims.td AND a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY dims.td ORDER BY trunc_dim""",
    "q135_stream_semantic" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         asg AS (SELECT vec_id, vec, cell FROM (
           SELECT vec_id, vec, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM e, cent) t WHERE rn = 1),
         dl AS (SELECT * FROM asg
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')),
         bs AS (SELECT * FROM asg
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')),
         prs AS (SELECT d.vec_id AS delta_id, b.vec_id AS base_id,
             list_inner_product(d.vec, b.vec) /
               (sqrt(list_inner_product(d.vec, d.vec)) *
                sqrt(list_inner_product(b.vec, b.vec))) AS sim,
             d.cell AS cell
           FROM dl d JOIN bs b ON d.cell = b.cell)
         SELECT delta_id, base_id, round(sim, 6) AS sim,
           CAST(cell AS BIGINT) AS cell
         FROM prs WHERE round(sim, 6) >= 0.4 ORDER BY delta_id, base_id""",
    "q136_pq_trained_recall" -> s"""
         WITH $pqTrainCtes,
         ref AS (SELECT sub, c, pos, round(AVG(vv), 6) AS c_val
           FROM vals GROUP BY sub, c, pos),
         rcb AS (SELECT sub, c, list(c_val ORDER BY pos) AS rvec
           FROM ref GROUP BY sub, c),
         cent(cell, cvec) AS (VALUES $ivfCentroids),
         ca AS (SELECT n_id, cell FROM (
           SELECT vec_id AS n_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM e, cent) t WHERE rn = 1),
         rcode AS (SELECT vec_id, sub, c FROM (
           SELECT e.vec_id, r.sub, r.c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, r.sub
               ORDER BY round(list_inner_product(r.rvec, r.rvec)
                 - 2 * list_inner_product(
                     list_slice(e.vec, r.sub * 8 + 1, r.sub * 8 + 8), r.rvec), 6),
               r.c) AS rn
           FROM e, rcb r) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 50),
         qa AS (SELECT q_id, q_vec, cell FROM (
           SELECT q_id, q_vec, cell, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell) AS rn
           FROM qq, cent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.q_vec, ca.n_id FROM qa JOIN ca USING (cell)
           WHERE qa.q_id <> ca.n_id),
         terms AS (SELECT pr.q_id, pr.n_id, k.sub,
             list_inner_product(
               list_slice(pr.q_vec, k.sub * 8 + 1, k.sub * 8 + 8), r.rvec) AS term
           FROM prs pr JOIN rcode k ON k.vec_id = pr.n_id
           JOIN rcb r ON r.sub = k.sub AND r.c = k.c),
         adc AS (SELECT q_id, n_id, $pqTermPivot AS adc
           FROM terms GROUP BY q_id, n_id),
         ap AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(adc, 6) DESC, n_id) AS rank FROM adc) t
           WHERE rank <= 3),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, e cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3)
         SELECT ex.q_id, CAST(COUNT(ap.n_id) AS BIGINT) AS n_hits,
           round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
         FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
         GROUP BY ex.q_id ORDER BY ex.q_id""",
    // the streaming-maintained index must be value-identical to a FULL
    // batch rebuild of the whole-corpus quantized index (q94's frame);
    // src re-derives the md5 delta/base split rule
    "q137_stream_index_ingest" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         s AS (SELECT vec_id, embedding,
             coalesce(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale0
           FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         qz AS (SELECT vec_id,
             CASE WHEN scale0 > 0 THEN list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127 / scale0) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS code,
             scale0 AS scale FROM s),
         cd AS (SELECT vec_id, code, scale,
             list_transform(code, x -> CAST(x AS DOUBLE)) AS dcode FROM qz),
         nn AS (SELECT vec_id, code, scale, dcode,
             sqrt(list_inner_product(dcode, dcode)) AS cnorm FROM cd
           WHERE list_inner_product(dcode, dcode) > 0),
         ca AS (SELECT vec_id, code, scale, cnorm, cell FROM (
             SELECT vec_id, code, scale, cnorm, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY round(list_inner_product(dcode, cvec), 6) DESC, cell) AS rn
             FROM nn, cent) t WHERE rn = 1)
         SELECT CAST(cell AS BIGINT) AS cell, vec_id,
           array_to_string(list_transform(code,
             v -> CAST(v AS VARCHAR)), ',') AS code,
           round(scale, 6) AS scale, round(cnorm, 6) AS cnorm,
           CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
                THEN 'delta' ELSE 'base' END AS src
         FROM ca ORDER BY vec_id""",
    "q138_dedup_token_impact" -> s"""
         WITH $dedupDropsCtes,
         $bpeEncodeCtes,
         tot AS (SELECT SUM(coalesce(n_tokens, 0)) AS corpus_tokens FROM enc),
         dd AS (SELECT dr.det, COUNT(*) AS docs_dropped,
             SUM(coalesce(e2.n_tokens, 0)) AS tokens_dropped
           FROM drops dr JOIN enc e2 ON dr.doc_id = e2.doc_id GROUP BY 1)
         SELECT det, CAST(docs_dropped AS BIGINT) AS docs_dropped,
           CAST(tokens_dropped AS BIGINT) AS tokens_dropped,
           round(CAST(tokens_dropped AS DOUBLE) / corpus_tokens, 6) AS token_frac
         FROM dd CROSS JOIN tot ORDER BY det""",
    "q139_split_span_leak" -> s"""
         WITH RECURSIVE $splitCtes,
         tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         pn2 AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM tk),
         ps2 AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(toks[i*8+1 : i*8+8], ' ')), 1, 16)
               AS span_key
           FROM (SELECT doc_id, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM pn2 WHERE n_spans >= 1)),
         lf AS (SELECT span_key, 'naive' AS policy, naive_split AS split
             FROM ps2 JOIN spl USING (doc_id)
           UNION ALL
           SELECT span_key, 'cluster' AS policy, cluster_split AS split
             FROM ps2 JOIN spl USING (doc_id)),
         g2 AS (SELECT policy, span_key,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
           FROM lf GROUP BY 1, 2)
         SELECT policy, CAST(COUNT(*) AS BIGINT) AS n_test_spans,
           CAST(SUM(in_train) AS BIGINT) AS n_leaked,
           round(CAST(SUM(in_train) AS DOUBLE) / COUNT(*), 6) AS leak_frac
         FROM g2 WHERE in_test = 1 GROUP BY policy ORDER BY policy""",
    "q140_token_budget_mix" -> s"""
         WITH $bpeEncodeCtes,
         ps AS (SELECT source, CAST(SUM(coalesce(n_tokens, 0)) AS BIGINT)
             AS n_tokens FROM enc GROUP BY 1),
         ns AS (SELECT COUNT(*) AS n_sources FROM ps)
         SELECT source, n_tokens,
           round(50000.0 / n_sources, 6) AS target_tokens,
           round(least(1.0, round(50000.0 / n_sources, 6) / n_tokens), 6)
             AS sample_frac,
           round(round(50000.0 / n_sources, 6) / n_tokens, 6) AS epochs
         FROM ps CROSS JOIN ns ORDER BY source""",
    // incremental cluster maintenance must be value-identical to a
    // FULL from-scratch CC over the whole corpus' candidate graph
    // (q45's recursive oracle, extended to label every doc)
    "q141_incremental_clusters" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN ('0', '1', '2')
                THEN 'delta' ELSE 'base' END AS src
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    // the two-run chained maintenance must ALSO equal the one-shot
    // whole-corpus rebuild (merge associativity across runs)
    "q142_cluster_ingest_chain" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN ('0', '1', '2')
                THEN CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)
                       IN ('0', '1', '2', '3', '4', '5', '6', '7')
                     THEN 'delta1' ELSE 'delta2' END
                ELSE 'base' END AS src
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    "q143_cluster_purity" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id),
         lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cl,
             substr(md5(regexp_replace(d.text, '( dup)+$$', '')), 1, 16) AS gk
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         tp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS tp FROM
           (SELECT COUNT(*) AS n FROM lab GROUP BY cl, gk) x),
         pp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pp FROM
           (SELECT COUNT(*) AS n FROM lab GROUP BY cl) x),
         tt AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS tt FROM
           (SELECT COUNT(*) AS n FROM lab GROUP BY gk) x)
         SELECT tp AS n_hit_pairs, pp AS n_pred_pairs, tt AS n_truth_pairs,
           round(CAST(tp AS DOUBLE) / pp, 6) AS pair_prec,
           round(CAST(tp AS DOUBLE) / tt, 6) AS pair_recall,
           round(2.0 * tp / (pp + tt), 6) AS pair_f1
         FROM tp CROSS JOIN pp CROSS JOIN tt""",
    // the streaming-maintained cluster table must equal the one-shot
    // whole-corpus rebuild — the q141 oracle verbatim (same invariant,
    // now through 4 sequential stateful micro-batches)
    "q144_stream_clusters" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         edges AS (SELECT a_id AS s, b_id AS t FROM cand
           UNION SELECT b_id AS s, a_id AS t FROM cand),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s),
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN ('0', '1', '2')
                THEN 'delta' ELSE 'base' END AS src
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    "q145_vocab_drift" -> s"""
         WITH t AS (SELECT doc_id, unnest(${duckToks("text")}) AS term
           FROM documents),
         sd AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS side
           FROM documents),
         f AS (SELECT term, COUNT(*) AS freq FROM t JOIN sd USING (doc_id)
           WHERE sd.side = 'base' GROUP BY 1),
         v AS (SELECT term FROM f ORDER BY freq DESC, term LIMIT 20)
         SELECT sd.side, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS oov_rate
         FROM t JOIN sd USING (doc_id) LEFT JOIN v ON t.term = v.term
         GROUP BY sd.side ORDER BY sd.side""",
    "q146_index_cell_stats" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         s AS (SELECT vec_id, embedding,
             coalesce(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale0
           FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         qz AS (SELECT vec_id,
             CASE WHEN scale0 > 0 THEN list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127 / scale0) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS code
           FROM s),
         cd AS (SELECT vec_id,
             list_transform(code, x -> CAST(x AS DOUBLE)) AS dcode FROM qz),
         nn AS (SELECT vec_id, dcode FROM cd
           WHERE list_inner_product(dcode, dcode) > 0),
         ca AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY round(list_inner_product(dcode, cvec), 6) DESC, cell) AS rn
             FROM nn, cent) t WHERE rn = 1),
         cc AS (SELECT cell, COUNT(*) AS n FROM ca GROUP BY 1)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MIN(n) AS BIGINT) AS min_cell,
           CAST(MAX(n) AS BIGINT) AS max_cell,
           round(AVG(n), 6) AS avg_cell,
           round(MAX(n) / round(AVG(n), 6), 6) AS skew
         FROM cc""",
    "q147_source_mix_drift" -> s"""
         WITH sd AS (SELECT doc_id, source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS side
           FROM documents),
         b AS (SELECT source, COUNT(*) AS cnt FROM sd WHERE side = 'base'
           GROUP BY 1),
         bt AS (SELECT SUM(cnt) AS tot FROM b),
         dl AS (SELECT source, COUNT(*) AS cnt FROM sd WHERE side = 'delta'
           GROUP BY 1),
         dt AS (SELECT SUM(cnt) AS tot FROM dl)
         SELECT source,
           CAST(COALESCE(b.cnt, 0) AS BIGINT) AS base_docs,
           COALESCE(round(b.cnt::DOUBLE / bt.tot, 6), 0.0) AS base_frac,
           CAST(COALESCE(dl.cnt, 0) AS BIGINT) AS delta_docs,
           COALESCE(round(dl.cnt::DOUBLE / dt.tot, 6), 0.0) AS delta_frac,
           CASE WHEN b.cnt IS NOT NULL AND b.cnt > 0
             THEN round(COALESCE(round(dl.cnt::DOUBLE / dt.tot, 6), 0.0)
               / round(b.cnt::DOUBLE / bt.tot, 6), 6) END AS drift_ratio
         FROM b FULL OUTER JOIN dl USING (source)
         CROSS JOIN bt CROSS JOIN dt ORDER BY source""",
    "q148_incremental_spans" -> incrementalSpanSql,
    // the streaming min-merged owner table must equal the batch
    // incremental rule (one oracle pins both — order-independence of
    // the min-merge IS the claim)
    "q149_stream_spans" -> incrementalSpanSql,
    "q150_release_report" -> s"""
         WITH $bpeEncodeCtes,
         bt AS (SELECT CAST(SUM(coalesce(n_tokens, 0)) AS DOUBLE) AS nbpe
           FROM enc),
         tt AS (SELECT unnest(${duckToks("text")}) AS term FROM documents),
         fq AS (SELECT term, COUNT(*) AS freq FROM tt GROUP BY 1),
         vv AS (SELECT term FROM fq ORDER BY freq DESC, term LIMIT 20),
         ov AS (SELECT CAST(SUM(CASE WHEN vv.term IS NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*) AS oov
           FROM tt LEFT JOIN vv ON tt.term = vv.term),
         bs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
             AVG(len(text)) AS avg_chars,
             CAST((SELECT COUNT(*) FROM tt) AS DOUBLE) AS n_words,
             CAST(COUNT(DISTINCT md5(lower(substr(text, 1, 40)))) AS DOUBLE)
               AS n_keys
           FROM documents)
         SELECT metric, round(value, 6) AS value FROM (
           SELECT 'avg_doc_chars' AS metric, avg_chars AS value
             FROM bs
           UNION ALL SELECT 'bpe_fertility', nbpe / n_words
             FROM bs CROSS JOIN bt
           UNION ALL SELECT 'exact_dup_frac', 1.0 - n_keys / n_docs FROM bs
           UNION ALL SELECT 'n_bpe_tokens', nbpe FROM bt
           UNION ALL SELECT 'n_docs', n_docs FROM bs
           UNION ALL SELECT 'n_sources', n_sources FROM bs
           UNION ALL SELECT 'n_words', n_words FROM bs
           UNION ALL SELECT 'oov_rate_top20', oov FROM ov) u
         ORDER BY metric""",
    "q151_classifier_calibration" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks,
             ${duckToks("lower(text)")} AS ltoks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(len(toks) AS BIGINT) AS n_words_l,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mwl,
             CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE) AS punct,
             CAST(len(list_filter(toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stop,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS dup_frac
           FROM t),
         scored AS (SELECT
             round(1.0 / (1.0 + exp(-(0.5 + 4.0 * stop - 6.0 * punct
               - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words)))), 6) AS score,
             CAST(n_words_l >= 50 AND n_words_l <= 100000
               AND round(mwl, 6) >= 3.0 AND round(mwl, 6) <= 10.0
               AND round(stop, 6) >= 0.02 AND dup_frac <= 0.9 AS BIGINT) AS label
           FROM f),
         b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
             score, label FROM scored),
         g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             round(AVG(score), 6) AS mean_score,
             round(AVG(CAST(label AS DOUBLE)), 6) AS pos_rate
           FROM b GROUP BY 1)
         SELECT bin, n, mean_score, pos_rate,
           round(abs(mean_score - pos_rate), 6) AS gap
         FROM g ORDER BY bin""",
    "q152_temperature_mix" -> """
         WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         t AS (SELECT SUM(n_docs) AS tot,
             SUM(pow(n_docs, 0.3)) AS z03, SUM(pow(n_docs, 0.7)) AS z07
           FROM n)
         SELECT lang, n_docs,
           round(CAST(n_docs AS DOUBLE) / tot, 6) AS share,
           round(pow(n_docs, 0.3) / z03, 6) AS w_a03,
           round(pow(n_docs, 0.7) / z07, 6) AS w_a07,
           round(pow(n_docs, 0.7) / z07 / (CAST(n_docs AS DOUBLE) / tot), 6)
             AS boost_a07
         FROM n CROSS JOIN t ORDER BY lang""",
    "q153_corpus_quantiles" -> """
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
         FROM documents GROUP BY source ORDER BY source""",
    "q154_centroid_drift" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         ${quantCellMeanCtes("b",
           "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')")},
         ${quantCellMeanCtes("d",
           "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')")},
         j AS (SELECT COALESCE(bm.cell, dm.cell) AS cell,
             bm.m AS bmv, bm.n AS bn, dm.m AS dmv, dm.n AS dn
           FROM bm FULL OUTER JOIN dm
             ON bm.cell = dm.cell AND bm.pos = dm.pos),
         g AS (SELECT cell, MAX(bn) AS nb, MAX(dn) AS nd,
             SUM(bmv * dmv) AS bd, SUM(bmv * bmv) AS bb, SUM(dmv * dmv) AS dd
           FROM j GROUP BY 1)
         SELECT cell, CAST(COALESCE(nb, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(nd, 0) AS BIGINT) AS n_delta,
           CASE WHEN bb > 0 AND dd > 0
             THEN round(1.0 - bd / sqrt(bb * dd), 6) END AS drift
         FROM g ORDER BY cell""",
    "q155_release_diff" -> s"""
         WITH $bpeEncodeCtes,
         ${releaseCardCtes("b",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')")},
         ${releaseCardCtes("n", "TRUE")}
         SELECT metric, round(b.value, 6) AS base_value,
           round(n.value, 6) AS new_value,
           round(n.value - b.value, 6) AS delta
         FROM bu b JOIN nu n USING (metric) ORDER BY metric""",
    "q156_containment_dedup" -> s"""
         WITH $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         gr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng FROM sh GROUP BY 1),
         ix AS (SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_common
           FROM cand c JOIN sh x ON x.doc_id = c.a_id
             JOIN sh y ON y.doc_id = c.b_id AND y.shingle = x.shingle
           GROUP BY 1, 2),
         m AS (SELECT c.a_id, c.b_id, ga.ng AS na, gb.ng AS nb,
             COALESCE(ix.n_common, 0) AS n_common
           FROM cand c JOIN gr ga ON ga.doc_id = c.a_id
             JOIN gr gb ON gb.doc_id = c.b_id
             LEFT JOIN ix ON ix.a_id = c.a_id AND ix.b_id = c.b_id)
         SELECT a_id, b_id, CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard,
           round(CAST(n_common AS DOUBLE) / na, 6) AS cont_a,
           round(CAST(n_common AS DOUBLE) / nb, 6) AS cont_b
         FROM m WHERE na > 0 AND nb > 0
           AND greatest(round(CAST(n_common AS DOUBLE) / na, 6),
                        round(CAST(n_common AS DOUBLE) / nb, 6)) >= 0.5
         ORDER BY a_id, b_id""",
    "q157_source_fertility" -> s"""
         WITH $bpeEncodeCtes,
         g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(coalesce(n_tokens, 0)) AS BIGINT) AS n_tokens
           FROM enc GROUP BY 1),
         t AS (SELECT SUM(n_tokens) AS tot FROM g)
         SELECT source, n_docs, n_words, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
           round(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share
         FROM g CROSS JOIN t ORDER BY source""",
    "q158_incremental_containment" -> incrementalContainmentSql,
    // the streaming min-batched containment path must equal the batch
    // incremental rule — one oracle pins both (q149/q148's pattern)
    "q160_stream_containment" -> incrementalContainmentSql,
    "q161_temperature_sample" -> """
         WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         t AS (SELECT SUM(n_docs) AS tot, SUM(pow(n_docs, 0.7)) AS z07 FROM n),
         p AS (SELECT lang, n_docs,
             pow(n_docs, 0.7) / z07 * tot / 2.0 AS want
           FROM n CROSS JOIN t),
         pl AS (SELECT lang, n_docs, want,
             round(least(1.0, want / n_docs), 6) AS sample_frac,
             CAST(ceil(round(want / n_docs, 6)) AS BIGINT) AS epochs
           FROM p),
         uu AS (SELECT lang,
             round(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
               AS BIGINT) AS DOUBLE) / 16777215.0, 6) AS u
           FROM documents),
         k AS (SELECT uu.lang,
             CAST(SUM(CASE WHEN u < sample_frac THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
           FROM uu JOIN pl ON uu.lang = pl.lang GROUP BY 1)
         SELECT pl.lang, pl.n_docs, round(want, 6) AS target_docs,
           sample_frac, epochs, n_kept
         FROM pl JOIN k ON pl.lang = k.lang ORDER BY pl.lang""",
    "q159_length_trim" -> """
         WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(quantile_cont(n_chars, 0.05), 6) AS lo_cut,
             round(quantile_cont(n_chars, 0.95), 6) AS hi_cut
           FROM documents GROUP BY 1)
         SELECT d.source, c.n_docs,
           CAST(SUM(CASE WHEN d.n_chars >= c.lo_cut AND d.n_chars <= c.hi_cut
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(SUM(CASE WHEN d.n_chars >= c.lo_cut AND d.n_chars <= c.hi_cut
             THEN 1 ELSE 0 END)::DOUBLE / c.n_docs, 6) AS keep_frac,
           c.lo_cut, c.hi_cut
         FROM documents d JOIN c USING (source)
         GROUP BY d.source, c.n_docs, c.lo_cut, c.hi_cut
         ORDER BY d.source""",
    // the release ledger: the five detector families' own fragments
    // (drops + the q156 containment chain) + q100's quality rule +
    // q59's decontamination, composed under the fixed drop precedence
    // by the shared ledger generator (also instanced twice in q167)
    "q162_curated_corpus" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
    // the incremental maintenance path must be value-identical to the
    // full-rebuild ledger: q162's own oracle pins both (q91/q95/q115's
    // one-oracle proof pattern)
    "q168_ledger_incremental" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
    // the chain (v1->v2->v3 by two maintenance steps) must land on the
    // SAME full-rebuild ledger — q162's oracle pins all three paths
    "q171_ledger_chain" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
    // the maintained-card oracle derives its kept set from the FULL
    // REBUILD ledger rule — green re-proves maintained ≡ rebuilt at
    // the published-report level
    "q172_maintained_card" -> s"""
         WITH $bpeEncodeCtes,
         ${ledgerCtesFor("", "TRUE", "TRUE")},
         ${releaseCardCtes("k",
           "doc_id IN (SELECT doc_id FROM led WHERE drop_reason = 'kept')")}
         SELECT metric, round(value, 6) AS value FROM ku ORDER BY metric""",
    // both diff sides re-derived by rebuild: v1 = the base-slice
    // ledger instance (q167's va), new = the full-corpus ledger
    "q173_maintained_diff" -> s"""
         WITH $bpeEncodeCtes,
         ${ledgerCtesFor("va",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')",
           "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')")},
         ${ledgerCtesFor("", "TRUE", "TRUE")},
         ${releaseCardCtes("b",
           "doc_id IN (SELECT doc_id FROM valed WHERE drop_reason = 'kept')")},
         ${releaseCardCtes("n",
           "doc_id IN (SELECT doc_id FROM led WHERE drop_reason = 'kept')")}
         SELECT metric, round(b.value, 6) AS base_value,
           round(n.value, 6) AS new_value,
           round(n.value - b.value, 6) AS delta
         FROM bu b JOIN nu n USING (metric) ORDER BY metric""",
    // the Bloom degrade path is EXACT (sketch prefilter + exact
    // confirm), so the full-rebuild ledger oracle gates it unchanged —
    // q162/q168/q171's one-oracle-pins-all-paths pattern
    "q174_ledger_bloom" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
    // the skew rehearsal's oracle mirrors the cap EXACTLY: same
    // boilerplate stamp, same banded-signature construction, bucket
    // sizes split at the cap before pair arithmetic
    "q175_skew_cap_rehearsal" -> s"""
         WITH skdoc AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3','4','5','6','7')
               THEN '$boilerplateText' ELSE text END AS text
           FROM documents),
         skpos AS (SELECT doc_id, text,
             unnest(generate_series(1, greatest(len(text) - 7, 1))) AS i
           FROM skdoc),
         sksh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS shingle
           FROM skpos),
         sksig AS (SELECT doc_id, substr(md5(shingle), 1, 1) AS band,
             MIN(md5(shingle)) AS minhash FROM sksh GROUP BY 1, 2),
         skpiv AS (SELECT doc_id, ${
           "0123456789abcdef".zipWithIndex.map { case (h, i) =>
             s"MIN(minhash) FILTER (band = '$h') AS b$i" }.mkString(", ")}
           FROM sksig GROUP BY doc_id),
         skkeyed AS (SELECT doc_id, ${
           (0 until 8).map(j => s"b$j || '#' || b${j + 8} AS k$j")
             .mkString(", ")} FROM skpiv),
         sklng AS (SELECT doc_id, unnest(generate_series(0, 7)) AS band,
             unnest(${(0 until 8).map(j => s"k$j").mkString("[", ", ", "]")})
               AS sigkey FROM skkeyed),
         skb AS (SELECT band, sigkey, CAST(COUNT(*) AS BIGINT) AS n
           FROM sklng WHERE sigkey IS NOT NULL GROUP BY 1, 2)
         SELECT band, CAST(COUNT(*) AS BIGINT) AS n_keys,
           MAX(n) AS max_bucket,
           CAST(SUM(CASE WHEN n > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_cap,
           CAST(SUM(CASE WHEN n <= 100 THEN n * (n - 1) // 2 ELSE 0 END)
             AS BIGINT) AS capped_pairs,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS uncapped_pairs
         FROM skb GROUP BY band ORDER BY band""",
    // span excision re-derived positionally: leaked window starts ->
    // covered positions -> anti-joined token rebuild, fingerprinted
    "q180_decontaminate_spans" -> s"""
         WITH dw0 AS (SELECT doc_id, $duckNormWords AS words,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hb
           FROM documents),
         dheld AS (SELECT DISTINCT
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM (SELECT words, unnest(generate_series(1, len(words) - 7)) AS i
             FROM dw0 WHERE hb = '0' AND len(words) >= 8)),
         dtr AS (SELECT doc_id, words FROM dw0 WHERE hb <> '0'),
         dlw AS (SELECT doc_id, i AS s
           FROM (SELECT doc_id, words,
               unnest(generate_series(1, len(words) - 7)) AS i
             FROM dtr WHERE len(words) >= 8) t
           WHERE substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16)
             IN (SELECT gh FROM dheld)),
         drm AS (SELECT DISTINCT doc_id, pos FROM
           (SELECT doc_id, unnest(generate_series(s, s + 7)) AS pos
            FROM dlw)),
         dtk AS (SELECT doc_id, pos, words[pos] AS tok
           FROM (SELECT doc_id, words,
               unnest(generate_series(1, len(words))) AS pos FROM dtr)),
         dkept AS (SELECT t.doc_id, t.pos, t.tok FROM dtk t
           WHERE NOT EXISTS (SELECT 1 FROM drm r
             WHERE r.doc_id = t.doc_id AND r.pos = t.pos)),
         dagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 16)
               AS clean_fp
           FROM dkept GROUP BY 1),
         dbase AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens
           FROM dtr)
         SELECT b.doc_id, b.n_tokens,
           b.n_tokens - COALESCE(a.n_kept, 0) AS n_removed,
           CASE WHEN b.n_tokens = 0 THEN 1.0
             ELSE round(COALESCE(a.n_kept, 0)::DOUBLE / b.n_tokens, 6)
           END AS kept_frac,
           COALESCE(a.clean_fp, substr(md5(''), 1, 16)) AS clean_fp
         FROM dbase b LEFT JOIN dagg a USING (doc_id)
         ORDER BY b.doc_id""",
    // fuzzy decon: q22's banded-signature candidates oriented across
    // the md5-head held split + q24's exact 3-gram-Jaccard confirm
    "q181_fuzzy_decon" -> (s"""
         WITH $bandedSigSql,
         fcand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         fo AS (SELECT
             CASE WHEN substr(md5(a_id::VARCHAR), 1, 1) = '0'
               THEN b_id ELSE a_id END AS doc_id,
             CASE WHEN substr(md5(a_id::VARCHAR), 1, 1) = '0'
               THEN a_id ELSE b_id END AS held_id
           FROM fcand
           WHERE (substr(md5(a_id::VARCHAR), 1, 1) = '0')
             <> (substr(md5(b_id::VARCHAR), 1, 1) = '0')),""" + """
         fgpos AS (SELECT doc_id, substr(text, 1, 120) AS pre,
           unnest(generate_series(1, greatest(len(substr(text, 1, 120)) - 2, 1))) AS i
           FROM documents),
         fg AS (SELECT doc_id, list(DISTINCT substr(pre, i, 3)) AS grams
           FROM fgpos GROUP BY 1),
         fp AS (SELECT fo.doc_id, fo.held_id,
           CAST(len(list_intersect(gt.grams, gh.grams)) AS DOUBLE) /
           CAST(len(gt.grams) + len(gh.grams)
             - len(list_intersect(gt.grams, gh.grams)) AS DOUBLE) AS jac
           FROM fo JOIN fg gt ON fo.doc_id = gt.doc_id
             JOIN fg gh ON fo.held_id = gh.doc_id),
         fw AS (SELECT doc_id, held_id, jac, ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY round(jac, 6) DESC, held_id) AS rn
           FROM fp WHERE jac >= 0.5)
         SELECT doc_id, held_id, round(jac, 6) AS jac FROM fw WHERE rn = 1
         ORDER BY doc_id"""),
    // semantic decon: q86's cell-bounded pair chain re-oriented across
    // the md5-head held split (best held witness per train vector)
    "q182_semantic_decon" -> s"""
         WITH ${semanticPairCtesFor("", "TRUE")},
         sdt AS (SELECT id, vec, cell, nrm FROM c
           WHERE substr(md5(id::VARCHAR), 1, 1) <> '0'),
         sdh AS (SELECT id, vec, cell, nrm FROM c
           WHERE substr(md5(id::VARCHAR), 1, 1) = '0'),
         sdp AS (SELECT t.cell, t.id AS vec_id, h.id AS held_id,
             list_inner_product(t.vec, h.vec) / (t.nrm * h.nrm) AS sim
           FROM sdt t JOIN sdh h ON t.cell = h.cell),
         sde AS (SELECT cell, vec_id, held_id, sim, ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY round(sim, 6) DESC, held_id) AS rn
           FROM sdp WHERE round(sim, 6) >= 0.4)
         SELECT vec_id, held_id, round(sim, 6) AS sim, cell
         FROM sde WHERE rn = 1 ORDER BY vec_id""",
    // the anisotropy audit re-derives the scaled fixture + per-dim
    // variances and groups them under the identity layout
    "q183_aniso_audit" -> s"""
         WITH $anisoCtes
         , absb AS (SELECT CAST(dim // 8 AS BIGINT) AS sub,
             SUM(v) AS var_sum FROM avr GROUP BY 1),
         abtot AS (SELECT SUM(v) AS t FROM avr)
         SELECT sub, round(var_sum, 6) AS var_sum,
           round(var_sum / t, 6) AS share
         FROM absb CROSS JOIN abtot ORDER BY sub""",
    // OPQ-lite: the WHOLE loop re-derived in SQL — variances → ranks →
    // snake layout → static-init encode → Lloyd means (rounded at 6,
    // the inlined-artifact contract) → encode-vs-refined MSE, for both
    // layouts over the shared scaled fixture
    "q184_opq_gain" -> s"""
         WITH $anisoCtes
         , $opqLayoutCtes,
         ${Seq(("ai", "aimap"), ("ab", "abmap")).map { case (px, mp) => s"""
         ${opqTrainSqlFor(px, mp)},
         ${px}k1 AS (SELECT s.vec_id, s.sub, s.sv, r.c,
             list_inner_product(r.rvec, r.rvec)
               - 2 * list_inner_product(s.sv, r.rvec) AS key
           FROM ${px}sv s JOIN ${px}rc r ON r.sub = s.sub),
         ${px}e AS (SELECT vec_id, sub,
             list_inner_product(sv, sv) + key AS err FROM (
             SELECT vec_id, sub, sv, key, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM ${px}k1) t WHERE rn = 1),
         ${px}m AS (SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             round(avg(err), 6) AS mse FROM ${px}e GROUP BY 1)"""
           }.mkString(",")}
         SELECT 'identity' AS layout, sub, n_vecs, mse FROM aim
         UNION ALL
         SELECT 'balanced' AS layout, sub, n_vecs, mse FROM abm
         ORDER BY layout, sub""",
    // DSIR: bigram-occurrence buckets -> smoothed per-bucket llr
    // (rounded at 6, the inlined-artifact contract) -> per-doc sums ->
    // exact p80 cut (quantile_cont == the R-7 helper, q153's parity)
    "q185_dsir_selection" -> s"""
         WITH dsw AS (SELECT doc_id, source, $duckNormWords AS words
           FROM documents),
         dsp AS (SELECT doc_id, source, words,
             unnest(generate_series(1, len(words) - 1)) AS i
           FROM dsw WHERE len(words) >= 2),
         dso AS (SELECT doc_id, source,
             ${duckBucketMod("md5(words[i] || ' ' || words[i+1])", 128)} AS b
           FROM dsp),
         dst AS (SELECT b,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_n,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS r_n
           FROM dso GROUP BY b),
         dsl AS (SELECT b, round(
             ln((t_n + 1.0) / ((SUM(t_n) OVER ()) + 128.0))
             - ln((r_n + 1.0) / ((SUM(r_n) OVER ()) + 128.0)), 6) AS llr
           FROM dst),
         dsd AS (SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(SUM(l.llr), 6) AS log_w
           FROM dso o JOIN dsl l USING (b)
           WHERE o.source <> 'src0' GROUP BY o.doc_id),
         dsc AS (SELECT round(quantile_cont(log_w, 0.8), 6) AS cut FROM dsd)
         SELECT doc_id, n_bigrams, log_w,
           CAST(CASE WHEN log_w >= cut THEN 1 ELSE 0 END AS INT) AS selected
         FROM dsd CROSS JOIN dsc ORDER BY doc_id""",
    // heavy hitters: the oracle is the EXACT set (share >= 1%) over the
    // stamped corpus's positional gram stream — the sketch's guarantee
    // + exact re-score must land exactly this, any merge order
    "q186_heavy_hitters" -> hhExactSql,
    // histogram sketch: integer-exact bin ids, uniform-within-bin
    // estimate at the R-7 rank, exact quantiles via quantile_cont
    "q187_hist_quantiles" -> s"""
         WITH ${histSqlCtes("hq", "TRUE")}
         SELECT x.source, x.n_docs, x.p50_exact, h.p50_hist,
           floor(abs(x.p50_exact - h.p50_hist) * 1000000) / 1000000
             AS p50_err,
           x.p95_exact, h.p95_hist,
           floor(abs(x.p95_exact - h.p95_hist) * 1000000) / 1000000
             AS p95_err
         FROM hqx x JOIN hqi h USING (source) ORDER BY x.source""",
    // remedy-cost: exact-drop / span-excise / fuzzy-drop composed from
    // the q59 / q180 / q181 oracle chains over one train-token spine
    "q188_decon_cost" -> (s"""
         WITH dcw AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         dct AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens
           FROM dcw WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'),
         dctot AS (SELECT SUM(n_tokens) AS t FROM dct),
         dcgp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM dcw WHERE len(words) >= 8),
         dcg AS (SELECT doc_id, i,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM dcgp),
         dcheld AS (SELECT DISTINCT gh FROM dcg
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         dclk AS (SELECT g.doc_id, g.i AS s FROM dcg g JOIN dcheld USING (gh)
           WHERE substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) <> '0'),
         dcex AS (SELECT DISTINCT doc_id FROM dclk),
         dcrm AS (SELECT DISTINCT doc_id, pos FROM
           (SELECT doc_id, unnest(generate_series(s, s + 7)) AS pos
            FROM dclk)),
         dcsp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
           FROM dcrm GROUP BY doc_id),""" + """
         dcfgp AS (SELECT doc_id, substr(text, 1, 120) AS pre,
           unnest(generate_series(1, greatest(len(substr(text, 1, 120)) - 2, 1))) AS i
           FROM documents),
         dcfg AS (SELECT doc_id, list(DISTINCT substr(pre, i, 3)) AS grams
           FROM dcfgp GROUP BY 1),""" + s"""
         $bandedSigSql,
         dcfc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         dcfo AS (SELECT
             CASE WHEN substr(md5(CAST(a_id AS VARCHAR)), 1, 1) = '0'
               THEN b_id ELSE a_id END AS doc_id,
             CASE WHEN substr(md5(CAST(a_id AS VARCHAR)), 1, 1) = '0'
               THEN a_id ELSE b_id END AS held_id
           FROM dcfc
           WHERE (substr(md5(CAST(a_id AS VARCHAR)), 1, 1) = '0')
             <> (substr(md5(CAST(b_id AS VARCHAR)), 1, 1) = '0')),
         dcfz AS (SELECT DISTINCT o.doc_id
           FROM dcfo o JOIN dcfg gt ON o.doc_id = gt.doc_id
             JOIN dcfg gh2 ON o.held_id = gh2.doc_id
           WHERE CAST(len(list_intersect(gt.grams, gh2.grams)) AS DOUBLE) /
             CAST(len(gt.grams) + len(gh2.grams)
               - len(list_intersect(gt.grams, gh2.grams)) AS DOUBLE) >= 0.5),
         dcrow1 AS (SELECT 'exact_drop' AS method,
             CAST(COUNT(*) AS BIGINT) AS docs_affected,
             CAST(COUNT(*) AS BIGINT) AS docs_dropped,
             CAST(COALESCE(SUM(t.n_tokens), 0) AS BIGINT) AS tokens_removed
           FROM dcex e JOIN dct t USING (doc_id)),
         dcrow2 AS (SELECT 'fuzzy_drop' AS method,
             CAST(COUNT(*) AS BIGINT) AS docs_affected,
             CAST(COUNT(*) AS BIGINT) AS docs_dropped,
             CAST(COALESCE(SUM(t.n_tokens), 0) AS BIGINT) AS tokens_removed
           FROM dcfz f JOIN dct t USING (doc_id)),
         dcrow3 AS (SELECT 'span_excise' AS method,
             CAST(COUNT(*) AS BIGINT) AS docs_affected,
             CAST(SUM(CASE WHEN s.n_removed = t.n_tokens THEN 1 ELSE 0 END)
               AS BIGINT) AS docs_dropped,
             CAST(COALESCE(SUM(s.n_removed), 0) AS BIGINT) AS tokens_removed
           FROM dcsp s JOIN dct t USING (doc_id) WHERE s.n_removed > 0)
         SELECT method, docs_affected, docs_dropped, tokens_removed,
           round(tokens_removed * 1.0 / t, 6) AS tokens_frac
         FROM (SELECT * FROM dcrow1 UNION ALL SELECT * FROM dcrow2
           UNION ALL SELECT * FROM dcrow3) CROSS JOIN dctot
         ORDER BY method"""),
    // streaming histogram: the merged sketch must land the identical
    // report a full rebuild under the base-slice boundaries lands —
    // same CTE builder as q187, boundary slice = base docs
    "q189_stream_histogram" -> s"""
         WITH ${histSqlCtes("sh",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0','1','2')")}
         SELECT x.source, x.n_docs, x.p50_exact, h.p50_hist,
           floor(abs(x.p50_exact - h.p50_hist) * 1000000) / 1000000
             AS p50_err,
           x.p95_exact, h.p95_hist,
           floor(abs(x.p95_exact - h.p95_hist) * 1000000) / 1000000
             AS p95_err
         FROM shx x JOIN shi h USING (source) ORDER BY x.source""",
    // streaming heavy hitters: q186's oracle VERBATIM — the guarantee
    // makes the streamed sketch land the identical exact set
    "q190_stream_heavy_hitters" -> hhExactSql,
    // PSI drift: 16-bin base-boundary histograms on both slices,
    // add-1-smoothed shares, sum of (pd - pb) * ln(pd / pb)
    "q191_psi_drift" -> """
         WITH pbd AS (SELECT source, MIN(n_chars) AS lo, MAX(n_chars) AS hi
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0','1','2')
           GROUP BY source),
         pbin AS (SELECT d.source,
             CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') THEN 'delta' ELSE 'base' END AS side,
             CASE WHEN e.hi = e.lo THEN 0
               ELSE greatest(
                 least(((d.n_chars - e.lo) * 16) // (e.hi - e.lo), 15), 0)
             END AS bin
           FROM documents d JOIN pbd e USING (source)),
         pcnt AS (SELECT source, side, bin, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM pbin GROUP BY 1, 2, 3),
         pspine AS (SELECT source, unnest(generate_series(0, 15)) AS bin
           FROM (SELECT DISTINCT source FROM documents)),
         pj AS (SELECT s.source, s.bin,
             COALESCE(b.cnt, 0) AS cb, COALESCE(d.cnt, 0) AS cd
           FROM pspine s
           LEFT JOIN pcnt b ON b.source = s.source AND b.bin = s.bin
             AND b.side = 'base'
           LEFT JOIN pcnt d ON d.source = s.source AND d.bin = s.bin
             AND d.side = 'delta'),
         pn AS (SELECT source, bin, cb, cd,
             SUM(cb) OVER (PARTITION BY source) AS nb,
             SUM(cd) OVER (PARTITION BY source) AS nd
           FROM pj)
         SELECT source, CAST(MAX(nb) AS BIGINT) AS n_base,
           CAST(MAX(nd) AS BIGINT) AS n_delta,
           round(SUM(((cd + 1.0) / (nd + 16.0) - (cb + 1.0) / (nb + 16.0))
             * ln(((cd + 1.0) / (nd + 16.0)) / ((cb + 1.0) / (nb + 16.0)))),
             6) AS psi
         FROM pn GROUP BY source ORDER BY source""",
    // concat-chunk packing: one running-total window per source shard,
    // all sequence arithmetic in integer space
    "q192_concat_chunk" -> s"""
         WITH ccd AS (SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents),
         ccf AS (SELECT doc_id, source, n_tokens FROM ccd
           WHERE n_tokens > 0),
         cco AS (SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
           FROM ccf)
         SELECT doc_id, source, n_tokens,
           CAST(off // 512 AS BIGINT) AS seq_first,
           CAST((off + n_tokens - 1) // 512 AS BIGINT) AS seq_last,
           CAST(off % 512 AS BIGINT) AS offset_in_seq
         FROM cco ORDER BY doc_id""",
    // frozen-model DSIR: base-trained llr over the full 128-bucket
    // spine, base-derived p80 cut, applied unchanged to the delta
    "q193_dsir_ingest" -> s"""
         WITH giw AS (SELECT doc_id, source, $duckNormWords AS words
           FROM documents),
         gip AS (SELECT doc_id, source, words,
             unnest(generate_series(1, len(words) - 1)) AS i
           FROM giw WHERE len(words) >= 2),
         gio AS (SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS is_delta,
             ${duckBucketMod("md5(words[i] || ' ' || words[i+1])", 128)} AS b
           FROM gip),
         gst AS (SELECT b,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_n,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS r_n
           FROM gio WHERE NOT is_delta GROUP BY b),
         gsp AS (SELECT unnest(generate_series(0, 127)) AS b),
         gsf AS (SELECT s.b, COALESCE(t.t_n, 0) AS t_n,
             COALESCE(t.r_n, 0) AS r_n
           FROM gsp s LEFT JOIN gst t USING (b)),
         gll AS (SELECT b, round(
             ln((t_n + 1.0) / ((SUM(t_n) OVER ()) + 128.0))
             - ln((r_n + 1.0) / ((SUM(r_n) OVER ()) + 128.0)), 6) AS llr
           FROM gsf),
         gbw AS (SELECT o.doc_id, round(SUM(l.llr), 6) AS log_w
           FROM gio o JOIN gll l USING (b)
           WHERE NOT o.is_delta AND o.source <> 'src0' GROUP BY o.doc_id),
         gct AS (SELECT round(quantile_cont(log_w, 0.8), 6) AS cut FROM gbw),
         gdw AS (SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(SUM(l.llr), 6) AS log_w
           FROM gio o JOIN gll l USING (b)
           WHERE o.is_delta AND o.source <> 'src0' GROUP BY o.doc_id)
         SELECT doc_id, n_bigrams, log_w,
           CAST(CASE WHEN log_w >= cut THEN 1 ELSE 0 END AS INT) AS selected
         FROM gdw CROSS JOIN gct ORDER BY doc_id""",
    // packing purity: doc -> sequence-range fan-out, per-(source, seq)
    // doc counts, pure/mixed split + boundary-spanning doc count
    "q194_pack_purity" -> s"""
         WITH ppd AS (SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents),
         ppf AS (SELECT doc_id, source, n_tokens FROM ppd
           WHERE n_tokens > 0),
         ppo AS (SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
           FROM ppf),
         ppm AS (SELECT doc_id, source,
             CAST(off // 512 AS BIGINT) AS seq_first,
             CAST((off + n_tokens - 1) // 512 AS BIGINT) AS seq_last
           FROM ppo),
         pps AS (SELECT source,
             unnest(generate_series(seq_first, seq_last)) AS seq FROM ppm),
         ppc AS (SELECT source, seq, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM pps GROUP BY 1, 2),
         ppsp AS (SELECT source,
             CAST(SUM(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END)
               AS BIGINT) AS n_spanning_docs
           FROM ppm GROUP BY 1),
         ppr AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seqs,
             CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mixed,
             CAST(SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pure
           FROM ppc GROUP BY 1)
         SELECT r.source, r.n_seqs, r.n_pure, r.n_mixed,
           round(r.n_pure * 1.0 / r.n_seqs, 6) AS pure_frac,
           p.n_spanning_docs
         FROM ppr r JOIN ppsp p USING (source) ORDER BY r.source""",
    // the streaming ingest loop must land the identical full-rebuild
    // ledger — q162's oracle pins the whole family (q149/q160 pattern)
    "q179_stream_ledger" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
    // the cell rehearsal's oracle mirrors the ENGAGED cap over the
    // same inlined centroid constants (q86's assignment CTE shape)
    "q178_cell_cap_rehearsal" -> s"""
         WITH skcents(cell, cvec) AS (VALUES $ivfCentroids),
         ske0 AS (SELECT vec_id AS id,
             CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3','4','5','6','7')
               THEN list_transform(generate_series(1, 64), x -> 1.0::DOUBLE)
               ELSE embedding::DOUBLE[] END AS vec
           FROM embeddings),
         ska0 AS (SELECT id, vec FROM ske0
           WHERE vec IS NOT NULL AND len(vec) > 0),
         skasg AS (SELECT id, cell,
             ROW_NUMBER() OVER (PARTITION BY id
               ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell)
               AS rn
           FROM ska0, skcents),
         skcs AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_size
           FROM skasg WHERE rn = 1 GROUP BY 1)
         SELECT cell, cell_size,
           CAST(cell_size > 100 AS BIGINT) AS over_cap,
           CAST(CASE WHEN cell_size <= 100
             THEN cell_size * (cell_size - 1) // 2 ELSE 0 END AS BIGINT)
             AS capped_pairs,
           CAST(cell_size * (cell_size - 1) // 2 AS BIGINT)
             AS uncapped_pairs
         FROM skcs ORDER BY cell""",
    // the append-store maintenance path lands the same rebuild ledger
    "q177_ledger_append" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
    // two-key funnel: same ledger rule, rolled up on (source, lang)
    "q176_funnel_2key" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")},
         f2 AS (SELECT source, lang, drop_reason,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words
           FROM led GROUP BY 1, 2, 3),
         st2 AS (SELECT source, lang, SUM(n_docs) AS cell_docs
           FROM f2 GROUP BY 1, 2)
         SELECT f2.source, f2.lang, f2.drop_reason, f2.n_docs, f2.n_words,
           round(CAST(f2.n_docs AS DOUBLE) / cell_docs, 6) AS doc_share
         FROM f2 JOIN st2 ON st2.source = f2.source AND st2.lang = f2.lang
         ORDER BY f2.source, f2.lang, f2.drop_reason""",
    "q169_curation_funnel" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")},
         f AS (SELECT source, drop_reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words
           FROM led GROUP BY 1, 2),
         st AS (SELECT source, SUM(n_docs) AS src_docs FROM f GROUP BY 1)
         SELECT f.source, f.drop_reason, f.n_docs, f.n_words,
           round(CAST(f.n_docs AS DOUBLE) / src_docs, 6) AS doc_share
         FROM f JOIN st ON st.source = f.source
         ORDER BY f.source, f.drop_reason""",
    // both drop-set versions re-derived by full recompute (base-slice
    // predicate vs TRUE): green proves the persisted-artifact diff and
    // pins the monotonicity claim (removed_docs = 0)
    "q170_dropset_diff" -> s"""
         WITH ${dedupDropsCtesFor("ya",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')",
           "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')")},
         ${dedupDropsCtesFor("yb", "TRUE", "TRUE")},
         s1 AS (SELECT det, CAST(COUNT(*) AS BIGINT) AS v1_docs
           FROM yadrops GROUP BY 1),
         s2 AS (SELECT det, CAST(COUNT(*) AS BIGINT) AS v2_docs
           FROM ybdrops GROUP BY 1),
         ad AS (SELECT det, CAST(COUNT(*) AS BIGINT) AS added_docs
           FROM ybdrops b WHERE NOT EXISTS (SELECT 1 FROM yadrops a
             WHERE a.det = b.det AND a.doc_id = b.doc_id)
           GROUP BY 1),
         rm AS (SELECT det, CAST(COUNT(*) AS BIGINT) AS removed_docs
           FROM yadrops a WHERE NOT EXISTS (SELECT 1 FROM ybdrops b
             WHERE a.det = b.det AND a.doc_id = b.doc_id)
           GROUP BY 1)
         SELECT s2.det, COALESCE(v1_docs, 0) AS v1_docs, v2_docs,
           COALESCE(added_docs, 0) AS added_docs,
           COALESCE(removed_docs, 0) AS removed_docs
         FROM s2 LEFT JOIN s1 ON s1.det = s2.det
           LEFT JOIN ad ON ad.det = s2.det
           LEFT JOIN rm ON rm.det = s2.det
         ORDER BY s2.det""",
    // two full ledger instances — v1 over the base slice only (its own
    // signatures, drop sets, held set), v2 over everything — joined on
    // the common docs; the transition matrix is the release-QA table
    "q167_ledger_diff" -> s"""
         WITH ${ledgerCtesFor("va",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')",
           "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')")},
         ${ledgerCtesFor("vb", "TRUE", "TRUE")}
         SELECT a.drop_reason AS reason_v1, b.drop_reason AS reason_v2,
           CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM valed a JOIN vbled b ON a.doc_id = b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q163_lang_quantiles" -> s"""
         WITH $duckLangCtes
         SELECT source, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
         FROM lg GROUP BY 1, 2 ORDER BY 1, 2""",
    "q164_lang_fertility" -> s"""
         WITH $bpeEncodeCtes,
         $duckLangCtes,
         lgg AS (SELECT e.source, lg.lang_guess,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(e.n_words) AS BIGINT) AS n_words,
             CAST(SUM(coalesce(e.n_tokens, 0)) AS BIGINT) AS n_tokens
           FROM enc e JOIN lg ON lg.doc_id = e.doc_id GROUP BY 1, 2),
         ttot AS (SELECT SUM(n_tokens) AS tot FROM lgg)
         SELECT source, lang_guess, n_docs, n_words, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
           round(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share
         FROM lgg CROSS JOIN ttot ORDER BY source, lang_guess""",
    "q166_token_temperature" -> s"""
         WITH $bpeEncodeCtes,
         dl AS (SELECT d.doc_id, d.lang, coalesce(e.n_tokens, 0) AS n_tokens
           FROM documents d JOIN enc e ON e.doc_id = d.doc_id),
         n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tk FROM dl GROUP BY 1),
         t AS (SELECT SUM(tk) AS tot, SUM(pow(tk, 0.7)) AS z07 FROM n),
         p AS (SELECT lang, n_docs, tk,
             pow(tk, 0.7) / z07 * tot / 2.0 AS want FROM n CROSS JOIN t),
         pl AS (SELECT lang, n_docs, tk, want,
             round(least(1.0, want / tk), 6) AS sample_frac,
             CAST(ceil(round(want / tk, 6)) AS BIGINT) AS epochs FROM p),
         uu AS (SELECT doc_id, lang, n_tokens,
             round(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
               AS BIGINT) AS DOUBLE) / 16777215.0, 6) AS u FROM dl),
         k AS (SELECT uu.lang,
             CAST(SUM(CASE WHEN u < sample_frac THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN u < sample_frac THEN uu.n_tokens ELSE 0 END)
               AS BIGINT) AS kept_tokens
           FROM uu JOIN pl ON uu.lang = pl.lang GROUP BY 1)
         SELECT pl.lang, pl.n_docs, pl.tk AS n_tokens,
           round(want, 6) AS target_tokens, sample_frac, epochs,
           n_kept, kept_tokens
         FROM pl JOIN k ON pl.lang = k.lang ORDER BY pl.lang""",
    // both versions re-derived by FULL recompute over documents: a
    // green row proves the Spark side's delta-maintained v2 equals a
    // from-scratch rebuild, and removed_rows = 0 proves append-only
    "q165_artifact_versioning" -> s"""
         WITH $bandedSigSql,
         vraw AS (SELECT doc_id, band, sigkey FROM lng0
           WHERE sigkey IS NOT NULL),
         v1 AS (SELECT * FROM vraw
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         s1 AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS v1_rows,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS v1_docs
           FROM v1 GROUP BY 1),
         s2 AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS v2_rows,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS v2_docs
           FROM vraw GROUP BY 1),
         ad AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS added_rows
           FROM vraw v2 WHERE NOT EXISTS (SELECT 1 FROM v1
             WHERE v1.doc_id = v2.doc_id AND v1.band = v2.band
               AND v1.sigkey = v2.sigkey)
           GROUP BY 1),
         rm AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS removed_rows
           FROM v1 WHERE NOT EXISTS (SELECT 1 FROM vraw v2
             WHERE v1.doc_id = v2.doc_id AND v1.band = v2.band
               AND v1.sigkey = v2.sigkey)
           GROUP BY 1)
         SELECT CAST(s2.band AS BIGINT) AS band,
           COALESCE(v1_rows, 0) AS v1_rows, COALESCE(v1_docs, 0) AS v1_docs,
           v2_rows, v2_docs, COALESCE(added_rows, 0) AS added_rows,
           COALESCE(removed_rows, 0) AS removed_rows
         FROM s2 LEFT JOIN s1 ON s1.band = s2.band
           LEFT JOIN ad ON ad.band = s2.band
           LEFT JOIN rm ON rm.band = s2.band
         ORDER BY band""",
    // FFD packing: the fold replayed verbatim as a recursive CTE over
    // the same (capped-size DESC, doc_id) order and first-fit rule
    "q195_pack_ffd" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("fp")}
         SELECT doc_id, source, n_tokens, seq_id, off AS offset_in_seq,
           t AS n_kept, n_tokens - t AS n_dropped
         FROM fpfold WHERE doc_id IS NOT NULL ORDER BY doc_id""",
    // packing-layout comparison: the q192 window stats and the FFD
    // fold aggregated per source on one spine
    "q196_pack_compare" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("pc")},
         pcagg AS (SELECT source,
             CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS ffd_n_seqs,
             SUM(t) AS kept,
             CAST(SUM(n_tokens - t) AS BIGINT) AS ffd_waste_trunc,
             CAST(SUM(CASE WHEN off + t > $packBudget THEN 1 ELSE 0 END)
               AS BIGINT) AS ffd_n_spanning
           FROM pcfold WHERE doc_id IS NOT NULL GROUP BY 1),
         pccw AS (SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM pcf),
         pccc AS (SELECT source, SUM(n_tokens) AS total_tokens,
             CAST(SUM(CASE WHEN (off + n_tokens - 1) // $packBudget
               > off // $packBudget THEN 1 ELSE 0 END) AS BIGINT)
               AS cc_n_spanning
           FROM pccw GROUP BY 1)
         SELECT c.source, CAST(c.total_tokens AS BIGINT) AS total_tokens,
           CAST((c.total_tokens + ${packBudget - 1}) // $packBudget AS BIGINT)
             AS cc_n_seqs,
           CAST(((c.total_tokens + ${packBudget - 1}) // $packBudget)
             * $packBudget - c.total_tokens AS BIGINT) AS cc_waste,
           c.cc_n_spanning, a.ffd_n_seqs,
           CAST(a.ffd_n_seqs * $packBudget - a.kept AS BIGINT)
             AS ffd_waste_pad,
           a.ffd_waste_trunc, a.ffd_n_spanning
         FROM pccc c JOIN pcagg a USING (source) ORDER BY c.source""",
    // OPQ deployed recall: layouts + trained codebooks re-derived by
    // the shared q184 chain, then the full ADC scan (q136's CTEs)
    // under each layout against one exact-IP truth side
    "q197_opq_recall" -> s"""
         WITH $anisoCtes
         , $opqLayoutCtes,
         cent(cell, cvec) AS (VALUES $ivfCentroids),
         oca AS (SELECT n_id, cell FROM (
           SELECT vec_id AS n_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM au, cent) t WHERE rn = 1),
         oqq AS (SELECT vec_id AS q_id, vec AS q_vec FROM au
           WHERE vec_id < 50),
         oqa AS (SELECT q_id, cell FROM (
           SELECT q_id, cell, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell)
             AS rn
           FROM oqq, cent) t WHERE rn <= 4),
         oprs AS (SELECT oqa.q_id, oca.n_id FROM oqa JOIN oca USING (cell)
           WHERE oqa.q_id <> oca.n_id),
         oes AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM oqq q, au cc WHERE q.q_id <> cc.vec_id),
         oex AS (SELECT q_id, n_id FROM oes WHERE rank <= 3),
         ${Seq(("ai", "aimap"), ("ab", "abmap")).map { case (px, mp) => s"""
         ${opqTrainSqlFor(px, mp)},
         ${px}code AS (SELECT vec_id, sub, c FROM (
             SELECT s.vec_id, s.sub, r.c, ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.sub
               ORDER BY round(list_inner_product(r.rvec, r.rvec)
                 - 2 * list_inner_product(s.sv, r.rvec), 6), r.c) AS rn
             FROM ${px}sv s JOIN ${px}rc r ON r.sub = s.sub) t WHERE rn = 1),
         ${px}tm AS (SELECT pr.q_id, pr.n_id, k.sub,
             list_inner_product(qs.sv, r.rvec) AS term
           FROM oprs pr
           JOIN ${px}code k ON k.vec_id = pr.n_id
           JOIN ${px}rc r ON r.sub = k.sub AND r.c = k.c
           JOIN ${px}sv qs ON qs.vec_id = pr.q_id AND qs.sub = k.sub),
         ${px}adc AS (SELECT q_id, n_id, $pqTermPivot AS adc
           FROM ${px}tm GROUP BY q_id, n_id),
         ${px}ap AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(adc, 6) DESC, n_id) AS rank FROM ${px}adc) t
           WHERE rank <= 3),
         ${px}rec AS (SELECT oex.q_id, CAST(COUNT(ap.n_id) AS BIGINT)
               AS n_hits,
             round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
           FROM oex LEFT JOIN ${px}ap ap
             ON oex.q_id = ap.q_id AND oex.n_id = ap.n_id
           GROUP BY oex.q_id)"""
           }.mkString(",")}
         SELECT 'balanced' AS layout, q_id, n_hits, recall_at_3 FROM abrec
         UNION ALL
         SELECT 'identity' AS layout, q_id, n_hits, recall_at_3 FROM airec
         ORDER BY layout, q_id""",
    // DSIR retrain trigger: q193's frozen-model chain with per-source
    // keep counts on both slices, two-bucket PSI on the keep decision
    "q198_dsir_drift" -> s"""
         WITH drw AS (SELECT doc_id, source, $duckNormWords AS words
           FROM documents),
         drp AS (SELECT doc_id, source, words,
             unnest(generate_series(1, len(words) - 1)) AS i
           FROM drw WHERE len(words) >= 2),
         dro AS (SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0','1','2') AS is_delta,
             ${duckBucketMod("md5(words[i] || ' ' || words[i+1])", 128)} AS b
           FROM drp),
         drt AS (SELECT b,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_n,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS r_n
           FROM dro WHERE NOT is_delta GROUP BY b),
         drs AS (SELECT unnest(generate_series(0, 127)) AS b),
         drf AS (SELECT s.b, COALESCE(t.t_n, 0) AS t_n,
             COALESCE(t.r_n, 0) AS r_n
           FROM drs s LEFT JOIN drt t USING (b)),
         drl AS (SELECT b, round(
             ln((t_n + 1.0) / ((SUM(t_n) OVER ()) + 128.0))
             - ln((r_n + 1.0) / ((SUM(r_n) OVER ()) + 128.0)), 6) AS llr
           FROM drf),
         drbw AS (SELECT o.doc_id, o.source, round(SUM(l.llr), 6) AS log_w
           FROM dro o JOIN drl l USING (b)
           WHERE NOT o.is_delta AND o.source <> 'src0'
           GROUP BY o.doc_id, o.source),
         drct AS (SELECT round(quantile_cont(log_w, 0.8), 6) AS cut FROM drbw),
         drdw AS (SELECT o.doc_id, o.source, round(SUM(l.llr), 6) AS log_w
           FROM dro o JOIN drl l USING (b)
           WHERE o.is_delta AND o.source <> 'src0'
           GROUP BY o.doc_id, o.source),
         drb AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_base,
             CAST(SUM(CASE WHEN log_w >= cut THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_base
           FROM drbw CROSS JOIN drct GROUP BY source),
         drd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_delta,
             CAST(SUM(CASE WHEN log_w >= cut THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_delta
           FROM drdw CROSS JOIN drct GROUP BY source),
         drj AS (SELECT b.source, b.n_base, b.kept_base,
             d.n_delta, d.kept_delta,
             (b.kept_base + 1.0) / (b.n_base + 2.0) AS pbk,
             (d.kept_delta + 1.0) / (d.n_delta + 2.0) AS pdk
           FROM drb b JOIN drd d USING (source)),
         drj2 AS (SELECT source, n_base, kept_base, n_delta, kept_delta,
             round((pdk - pbk) * ln(pdk / pbk)
               + ((1.0 - pdk) - (1.0 - pbk))
                 * ln((1.0 - pdk) / (1.0 - pbk)), 6) AS psi
           FROM drj)
         SELECT source, n_base, kept_base,
           round(CAST(kept_base AS DOUBLE) / n_base, 6) AS keep_base,
           n_delta, kept_delta,
           round(CAST(kept_delta AS DOUBLE) / n_delta, 6) AS keep_delta,
           psi, CAST(CASE WHEN psi >= 0.1 THEN 1 ELSE 0 END AS INT) AS retrain
         FROM drj2 ORDER BY source""",
    // decon safety: q178's skewed-fixture assignment split by held
    // side, the capped cross-side contamination replay (q182's chain
    // at the engaged rehearsal cap), and the unscreened-held account
    "q199_decon_safety" -> s"""
         WITH skcents(cell, cvec) AS (VALUES $ivfCentroids),
         ske0 AS (SELECT vec_id AS id,
             CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3','4','5','6','7')
               THEN list_transform(generate_series(1, 64), x -> 1.0::DOUBLE)
               ELSE embedding::DOUBLE[] END AS vec
           FROM embeddings),
         ska0 AS (SELECT id, vec FROM ske0
           WHERE vec IS NOT NULL AND len(vec) > 0),
         skasg AS (SELECT id, vec, cell,
             ROW_NUMBER() OVER (PARTITION BY id
               ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell)
               AS rn
           FROM ska0, skcents),
         skcl AS (SELECT id, vec, cell FROM skasg WHERE rn = 1),
         sksz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_size,
             CAST(SUM(CASE WHEN substr(md5(id::VARCHAR), 1, 1) = '0'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_held,
             CAST(SUM(CASE WHEN substr(md5(id::VARCHAR), 1, 1) <> '0'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_train
           FROM skcl GROUP BY 1),
         skc AS (SELECT skcl.id, skcl.vec, skcl.cell,
             sqrt(list_inner_product(skcl.vec, skcl.vec)) AS nrm
           FROM skcl JOIN sksz ON skcl.cell = sksz.cell
           WHERE sksz.cell_size <= 100
             AND list_inner_product(skcl.vec, skcl.vec) > 0),
         skt AS (SELECT id, vec, cell, nrm FROM skc
           WHERE substr(md5(id::VARCHAR), 1, 1) <> '0'),
         skh AS (SELECT id, vec, cell, nrm FROM skc
           WHERE substr(md5(id::VARCHAR), 1, 1) = '0'),
         skp AS (SELECT t.cell, t.id AS vec_id, h.id AS held_id,
             list_inner_product(t.vec, h.vec) / (t.nrm * h.nrm) AS sim
           FROM skt t JOIN skh h ON t.cell = h.cell),
         ske AS (SELECT cell, vec_id, ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY round(sim, 6) DESC, held_id) AS rn
           FROM skp WHERE round(sim, 6) >= 0.4),
         skf AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_flags
           FROM ske WHERE rn = 1 GROUP BY 1)
         SELECT z.cell, z.cell_size, z.n_held, z.n_train,
           CAST(z.cell_size > 100 AS BIGINT) AS over_cap,
           COALESCE(f.n_flags, 0) AS n_flags,
           CASE WHEN z.cell_size > 100 THEN z.n_held ELSE 0 END
             AS held_unscreened
         FROM sksz z LEFT JOIN skf f USING (cell) ORDER BY z.cell""",
    // BPE-priced FFD: the same recursive fold over the shared BPE
    // encode CTEs' token counts (q125's currency swap for q195)
    "q200_bpe_ffd" -> s"""
         WITH RECURSIVE $bpeEncodeCtes,
         ${ffdFoldSqlFor("bf",
           """SELECT doc_id, source,
             CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens FROM enc""")}
         SELECT doc_id, source, n_tokens, seq_id, off AS offset_in_seq,
           t AS n_kept, n_tokens - t AS n_dropped
         FROM bffold WHERE doc_id IS NOT NULL ORDER BY doc_id""",
    // LSH banding sweep: one shared nibble-minima pivot + one shared
    // exact truth side, then the q102 precision and q114 recall
    // chains instantiated per rows-per-band
    "q201_lsh_band_sweep" -> s"""
         WITH $bandSweepOracleCtes
         SELECT * FROM (${Seq(1, 2, 4).map(r => s"""
           SELECT CAST($r AS BIGINT) AS rows_per_band,
             CAST(${16 / r} AS BIGINT) AS n_bands, p.n_pairs, p.n_verified,
             CASE WHEN p.n_pairs = 0 THEN 0.0
               ELSE round(CAST(p.n_verified AS DOUBLE) / p.n_pairs, 6) END
               AS lsh_precision,
             r.n_truth, r.n_found,
             CASE WHEN r.n_truth = 0 THEN 0.0
               ELSE round(CAST(r.n_found AS DOUBLE) / r.n_truth, 6) END
               AS lsh_recall
           FROM sw${r}prec p CROSS JOIN sw${r}rec r""").mkString(" UNION ALL ")})
         ORDER BY rows_per_band""",
    // operating-point card: the shared sweep CTEs feed the measured
    // legs; the theory legs are the same 200-point midpoint Riemann
    // sum with the SAME explicit squaring chains as the Spark side
    // (libm pow() is not hash-gate material)
    "q202_lsh_operating_point" -> s"""
         WITH $bandSweepOracleCtes,
         opgrid AS (SELECT i, (CAST(i AS DOUBLE) + 0.5) / 200 AS sv
           FROM (SELECT unnest(generate_series(0, 199)) AS i)),
         opth AS (${Seq(1, 2, 4).map { r =>
           val b = 16 / r
           val sr = duckPowChain("sv", r)
           val qb = duckPowChain(s"(1.0 - $sr)", b)
           s"""
           SELECT CAST($r AS BIGINT) AS rows_per_band,
             CAST($b AS BIGINT) AS n_bands, fp_area, fn_area,
             round(fp_area + fn_area, 6) AS total_err
           FROM (SELECT
             round(SUM(CASE WHEN i < 100 THEN 1.0 - $qb ELSE 0.0 END)
               / 200, 6) AS fp_area,
             round(SUM(CASE WHEN i >= 100 THEN $qb ELSE 0.0 END)
               / 200, 6) AS fn_area
           FROM opgrid)"""
         }.mkString(" UNION ALL ")}),
         opbest AS (SELECT MIN(total_err) AS best_err FROM opth),
         opm AS (${Seq(1, 2, 4).map(r => s"""
           SELECT CAST($r AS BIGINT) AS rows_per_band, p.n_pairs,
             CASE WHEN p.n_pairs = 0 THEN 0.0
               ELSE round(CAST(p.n_verified AS DOUBLE) / p.n_pairs, 6) END
               AS lsh_precision,
             CASE WHEN r.n_truth = 0 THEN 0.0
               ELSE round(CAST(r.n_found AS DOUBLE) / r.n_truth, 6) END
               AS lsh_recall
           FROM sw${r}prec p CROSS JOIN sw${r}rec r""").mkString(" UNION ALL ")})
         SELECT t.rows_per_band, t.n_bands, t.fp_area, t.fn_area,
           t.total_err, CAST(t.total_err = b.best_err AS BIGINT) AS is_chosen,
           m.n_pairs, m.lsh_precision, m.lsh_recall
         FROM opth t CROSS JOIN opbest b
         JOIN opm m USING (rows_per_band)
         ORDER BY t.rows_per_band""",
    // near-dup legs off the shared banded-signature chain (q45's
    // n_bands >= 2 rule); exact leg a hash-keyed self-join of the
    // DISTINCT (source, hash) projection
    "q203_source_overlap" -> s"""
         WITH $bandedSigSql,
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM lng a JOIN lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         nd AS (SELECT least(x.source, y.source) AS source_a,
             greatest(x.source, y.source) AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
           FROM cand c JOIN documents x ON c.a_id = x.doc_id
           JOIN documents y ON c.b_id = y.doc_id GROUP BY 1, 2),
         hs AS (SELECT DISTINCT source, substr(md5(text), 1, 16) AS h
           FROM documents),
         ex AS (SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(DISTINCT a.h) AS BIGINT) AS n_exact_hashes
           FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT COALESCE(n.source_a, e.source_a) AS source_a,
           COALESCE(n.source_b, e.source_b) AS source_b,
           COALESCE(n.n_neardup_pairs, CAST(0 AS BIGINT)) AS n_neardup_pairs,
           COALESCE(e.n_exact_hashes, CAST(0 AS BIGINT)) AS n_exact_hashes
         FROM nd n FULL JOIN ex e
           ON n.source_a = e.source_a AND n.source_b = e.source_b
         ORDER BY 1, 2""",
    // same expression tree as the Spark side, staged through CTE
    // aliases (w -> alloc -> e -> dk -> eff) so every float op happens
    // in the identical order
    "q204_effective_epochs" -> s"""
         WITH lt AS (SELECT lang,
             CAST(len(${duckToks("text")}) AS BIGINT) AS nt FROM documents),
         pl AS (SELECT lang, SUM(nt) AS n_tokens FROM lt GROUP BY 1
           HAVING SUM(nt) > 0),
         tz AS (SELECT SUM(n_tokens) AS tot,
           SUM(power(CAST(n_tokens AS DOUBLE), 0.7)) AS z07 FROM pl),
         ex1 AS (SELECT lang, n_tokens,
             (power(CAST(n_tokens AS DOUBLE), 0.7) / z07) AS w,
             ((power(CAST(n_tokens AS DOUBLE), 0.7) / z07)
               * CAST(tot AS DOUBLE)) AS alloc,
             CAST(n_tokens AS DOUBLE) AS ntd
           FROM pl, tz),
         ex2 AS (SELECT lang, n_tokens, w, alloc, ntd,
             (alloc / ntd) AS e FROM ex1),
         ex3 AS (SELECT *, floor(e) AS fl, power(0.5, floor(e)) AS dk
           FROM ex2),
         ex4 AS (SELECT *,
             (ntd * (2.0 * (1.0 - dk) + (e - fl) * dk)) AS eff FROM ex3)
         SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(w, 6) AS w_a07, round(alloc, 2) AS alloc_tokens,
           round(e, 6) AS eff_epochs, round(eff, 2) AS effective_tokens,
           round(eff / alloc, 6) AS efficiency,
           CAST(round(e, 6) > 1.0 AS BIGINT) AS repeats
         FROM ex4 ORDER BY lang""",
    // per-source means of the SAME per-doc score the q108 gate pins
    // (shared quality CTEs), then the EG update staged exactly as the
    // Spark side: rounded mean -> rounded excess -> w0*exp -> Z
    "q205_doremi_step" -> s"""
         WITH $duckQualityCtes,
         bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(AVG(quality_score), 6) AS mean_quality
           FROM sc GROUP BY 1),
         mx AS (SELECT MAX(mean_quality) AS max_q,
           SUM(n_docs) AS tot_docs FROM bs),
         st AS (SELECT source, n_docs, mean_quality,
             round(max_q - mean_quality, 6) AS excess_loss,
             (CAST(n_docs AS DOUBLE) / tot_docs) AS w0
           FROM bs, mx),
         st2 AS (SELECT *, (w0 * exp(excess_loss)) AS g FROM st),
         zz AS (SELECT SUM(g) AS z FROM st2)
         SELECT source, n_docs, mean_quality, excess_loss,
           round(w0, 6) AS w0, round(g / z, 6) AS w_new,
           round(g / z / w0, 6) AS boost
         FROM st2, zz ORDER BY source""",
    // q92's span grid verbatim (8-token non-overlapping spans over
    // lowercased whitespace tokens, 16-hex keys); nd counts DISTINCT
    // docs per key so within-doc repeats never flag
    "q206_duplication_profile" -> s"""
         WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks
           FROM documents),
         pn AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM tk),
         sp AS (SELECT doc_id,
             substr(md5(array_to_string(toks[i*8+1 : i*8+8], ' ')), 1, 16) AS k
           FROM (SELECT doc_id, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM pn WHERE n_spans >= 1)),
         ct AS (SELECT k, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
         SELECT sp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN ct.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           round(CAST(SUM(CASE WHEN ct.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_frac
         FROM sp JOIN ct USING (k) GROUP BY sp.doc_id ORDER BY sp.doc_id""",
    // q59's decon CTEs + the second-nibble batch rule; n_docs counts
    // ALL train docs (short docs with no grams included), flagged and
    // gram totals ride a left join
    "q207_contamination_velocity" -> contaminationVelocitySql,
    // the STREAMING decon monitor (q227) gates on this IDENTICAL
    // oracle: per-batch flag counts are additive, so the stream must
    // reproduce the batch card under any trigger membership
    "q227_stream_decon" -> contaminationVelocitySql,
    // the FFD fold replayed, sequences grouped to (source, seq_id),
    // shard = first md5 nibble of "source:seq_id" mod 8
    "q208_shard_manifest" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("sh")},
         shseqs AS (SELECT source, seq_id,
             CAST(COUNT(*) AS BIGINT) AS nd, SUM(t) AS kept
           FROM shfold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         shsh AS (SELECT CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % 8) AS BIGINT) AS shard_id, nd, kept
           FROM shseqs),
         shag AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_seqs,
             CAST(SUM(nd) AS BIGINT) AS n_docs,
             CAST(SUM(kept) AS BIGINT) AS kept_tokens,
             CAST(COUNT(*) * $packBudget - SUM(kept) AS BIGINT) AS pad_tokens
           FROM shsh GROUP BY 1),
         shtt AS (SELECT SUM(kept_tokens) AS tt FROM shag)
         SELECT shard_id, n_seqs, n_docs, kept_tokens, pad_tokens,
           round(CAST(kept_tokens AS DOUBLE) / (CAST(tt AS DOUBLE) / 8.0), 6)
             AS load_ratio
         FROM shag, shtt ORDER BY shard_id""",
    // the shared quality CTEs (q108/q205's sc), tercile thresholds via
    // quantile_cont (the textbook R-7 the Spark-side distributed
    // quantile reproduces — q153's proven pairing), then the phase
    // scan and the 3-row schedule card
    "q209_curriculum_phases" -> s"""
         WITH $duckQualityCtes,
         cnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         cth AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2 FROM sc),
         cph AS (SELECT sc.doc_id, quality_score, n_tokens,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase
           FROM sc JOIN cnt USING (doc_id), cth),
         cper AS (SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             round(AVG(quality_score), 6) AS mean_quality
           FROM cph GROUP BY 1),
         ctt AS (SELECT SUM(n_tokens) AS tt FROM cper)
         SELECT phase, n_docs, n_tokens, mean_quality,
           round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share,
           round(CAST(SUM(n_tokens) OVER (ORDER BY phase) AS DOUBLE) / tt, 6)
             AS cum_token_share
         FROM cper, ctt ORDER BY phase""",
    // q204's allocation arithmetic verbatim, swept over the 4 budget
    // multipliers and aggregated to the corpus curve
    "q210_repeat_value_curve" -> s"""
         WITH rlt AS (SELECT lang,
             CAST(len(${duckToks("text")}) AS BIGINT) AS nt FROM documents),
         rpl AS (SELECT lang, SUM(nt) AS n_tokens FROM rlt GROUP BY 1
           HAVING SUM(nt) > 0),
         rtz AS (SELECT SUM(n_tokens) AS tot,
           SUM(power(CAST(n_tokens AS DOUBLE), 0.7)) AS z07 FROM rpl),
         rmm AS (SELECT unnest([0.5, 1.0, 2.0, 4.0]) AS m),
         re1 AS (SELECT lang, m, CAST(n_tokens AS DOUBLE) AS ntd,
             (power(CAST(n_tokens AS DOUBLE), 0.7) / z07)
               * CAST(tot AS DOUBLE) * m AS alloc
           FROM rpl, rtz, rmm),
         re2 AS (SELECT lang, m, ntd, alloc, alloc / ntd AS e FROM re1),
         re3 AS (SELECT *, floor(e) AS fl, power(0.5, floor(e)) AS dk
           FROM re2),
         re4 AS (SELECT *,
             ntd * (2.0 * (1.0 - dk) + (e - fl) * dk) AS eff FROM re3)
         SELECT m AS budget_x, round(SUM(alloc), 2) AS budget_tokens,
           round(SUM(eff), 2) AS effective_tokens,
           round(SUM(eff) / SUM(alloc), 6) AS efficiency,
           CAST(SUM(CASE WHEN round(e, 6) > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_langs_repeat,
           CAST(SUM(CASE WHEN round(e, 6) > 4.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_langs_over4
         FROM re4 GROUP BY 1 ORDER BY 1""",
    // per-cell md5 rank, quota 8, and the taken-id-set fingerprint
    // (string_agg and the Spark collect_list both skip the not-taken
    // NULLs and order by doc_id ascending)
    "q211_quota_sample" -> quotaSampleSql,
    // the STREAMING reservoir (q224) gates on the identical oracle:
    // per-cell min-8-by-hash is a mergeable sketch, so the stream must
    // reproduce the batch card exactly, any batch membership
    "q224_stream_quota" -> quotaSampleSql,
    // the shared quality CTEs, per-(source, batch) means pivoted, then
    // the three EG steps staged exactly as the Spark chain (rounded
    // mean -> rounded excess, coalesced to 0 -> w*exp -> Z). The
    // STREAMING twin (q214) gates on this IDENTICAL oracle: ordered
    // ingest maintenance must be value-identical to the batch chain.
    "q212_doremi_chained" -> doremiChainSql,
    "q214_stream_mixture" -> doremiChainSql,
    // exact cosine truth over the full corpus (q25's CTEs), then
    // q44's IVF scan twice off one shared assignment/sim CTE — the
    // stale side filters the delta vectors out of the candidate set
    "q213_index_staleness" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         iau AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         iqq AS (SELECT vec_id AS q_id, vec AS q_vec FROM iau
           WHERE vec_id < 50),
         itr AS (SELECT q_id, n_id FROM (
           SELECT q.q_id, c.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, c.vec) /
                 (sqrt(list_inner_product(q.q_vec, q.q_vec)) *
                  sqrt(list_inner_product(c.vec, c.vec))), 6) DESC,
                 c.vec_id) AS rank
           FROM iqq q, iau c WHERE q.q_id <> c.vec_id) t WHERE rank <= 3),
         ica AS (SELECT n_id, n_vec, cell, is_delta FROM (
           SELECT a.vec_id AS n_id, a.vec AS n_vec, cell,
             substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') AS is_delta,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY round(list_inner_product(a.vec, cvec), 6) DESC, cell)
               AS rn
           FROM iau a, cent) t WHERE rn = 1),
         iqa AS (SELECT q_id, q_vec, cell FROM (
           SELECT q_id, q_vec, cell,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell)
               AS rn
           FROM iqq, cent) t WHERE rn <= 4),
         isv AS (SELECT iqa.q_id, ica.n_id,
             list_inner_product(q_vec, n_vec) /
               (sqrt(list_inner_product(q_vec, q_vec)) *
                sqrt(list_inner_product(n_vec, n_vec))) AS sim, ica.is_delta
           FROM iqa JOIN ica USING (cell) WHERE iqa.q_id <> ica.n_id),
         ist AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM isv WHERE NOT is_delta) t WHERE rank <= 3),
         imt AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id) AS rank
           FROM isv) t WHERE rank <= 3)
         SELECT itr.q_id,
           CAST(COUNT(ist.n_id) AS BIGINT) AS stale_hits,
           CAST(COUNT(imt.n_id) AS BIGINT) AS maintained_hits,
           round(CAST(COUNT(ist.n_id) AS DOUBLE) / COUNT(*), 6)
             AS stale_recall,
           round(CAST(COUNT(imt.n_id) AS DOUBLE) / COUNT(*), 6)
             AS maintained_recall,
           CAST(COUNT(imt.n_id) - COUNT(ist.n_id) AS BIGINT) AS gain
         FROM itr
         LEFT JOIN ist ON ist.q_id = itr.q_id AND ist.n_id = itr.n_id
         LEFT JOIN imt ON imt.q_id = itr.q_id AND imt.n_id = itr.n_id
         GROUP BY itr.q_id ORDER BY itr.q_id""",
    // the q209 phase CTEs feeding the FFD fold over the composite
    // (phase : source) shard key, aggregated to the phase-budget card
    "q215_curriculum_packing" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         kcnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         kth AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2 FROM sc),
         kph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN kcnt USING (doc_id), kth),
         ${ffdFoldSqlFor("cp",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM kph""")}
         SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source || '#' || CAST(seq_id AS VARCHAR))
             AS BIGINT) AS n_seqs,
           CAST(SUM(t) AS BIGINT) AS kept_tokens,
           CAST(COUNT(DISTINCT source || '#' || CAST(seq_id AS VARCHAR))
             * $packBudget - SUM(t) AS BIGINT) AS pad_tokens,
           CAST(SUM(n_tokens - t) AS BIGINT) AS trunc_tokens
         FROM cpfold WHERE doc_id IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q44's assignment CTEs + the q25 exact-cosine truth side, one leg
    // per probe level (candidate count + recall), then the rounded-
    // column cost ordering and the argmin pick
    "q216_ivf_operating_point" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         oau AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         oqq AS (SELECT vec_id AS q_id, vec AS q_vec FROM oau
           WHERE vec_id < 50),
         oex AS (SELECT q_id, n_id FROM (
           SELECT q.q_id, c.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, c.vec) /
                 (sqrt(list_inner_product(q.q_vec, q.q_vec)) *
                  sqrt(list_inner_product(c.vec, c.vec))), 6) DESC,
                 c.vec_id) AS rank
           FROM oqq q, oau c WHERE q.q_id <> c.vec_id) t WHERE rank <= 3),
         oca AS (SELECT n_id, n_vec, cell FROM (
           SELECT a.vec_id AS n_id, a.vec AS n_vec, cell,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY round(list_inner_product(a.vec, cvec), 6) DESC, cell)
               AS rn
           FROM oau a, cent) t WHERE rn = 1),
         oqc AS (SELECT q_id, q_vec, cell,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC, cell)
               AS rn
           FROM oqq, cent),
         osc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
           CAST(SUM(CASE WHEN vec_id < 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS nq FROM oau),
         ${Seq(1, 2, 4, 8, 16).map(p => s"""
         op${p}pv AS (SELECT oqc.q_id, oca.n_id,
             list_inner_product(q_vec, n_vec) /
               (sqrt(list_inner_product(q_vec, q_vec)) *
                sqrt(list_inner_product(n_vec, n_vec))) AS sim
           FROM oqc JOIN oca USING (cell)
           WHERE oqc.rn <= $p AND oqc.q_id <> oca.n_id),
         op${p}cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM op${p}pv),
         op${p}ap AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(sim, 6) DESC, n_id) AS rank FROM op${p}pv) t
           WHERE rank <= 3),
         op${p}rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM oex e LEFT JOIN op${p}ap a
             ON a.q_id = e.q_id AND a.n_id = e.n_id),
         op${p}row AS (SELECT CAST($p AS BIGINT) AS n_probe, n_candidates,
             round(CAST(n_candidates AS DOUBLE) / (nq * (nc - 1)), 6)
               AS scan_frac,
             round(CAST(n_found AS DOUBLE) / n_exact, 6) AS recall
           FROM op${p}cnt, op${p}rc, osc)""").mkString(",")},
         oall AS (${Seq(1, 2, 4, 8, 16)
           .map(p => s"SELECT * FROM op${p}row").mkString(" UNION ALL ")})
         SELECT n_probe, n_candidates, scan_frac, recall,
           round(1.0 - recall + scan_frac, 6) AS total_cost,
           CAST(CASE WHEN ROW_NUMBER() OVER (
             ORDER BY (1.0 - recall + scan_frac), n_probe) = 1
             THEN 1 ELSE 0 END AS BIGINT) AS picked
         FROM oall ORDER BY n_probe""",
    // two FFD folds (base slice / full corpus) joined on doc_id, plus
    // the per-source delta-ingest counts
    "q217_repack_churn" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("rb", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("rf")},
         rbj AS (SELECT doc_id, source, seq_id AS b_seq, off AS b_off
           FROM rbfold WHERE doc_id IS NOT NULL),
         rfj AS (SELECT doc_id, seq_id AS f_seq, off AS f_off
           FROM rffold WHERE doc_id IS NOT NULL),
         rdd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_delta_docs
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2')
             AND len($duckNormWords) > 0
           GROUP BY 1),
         rag AS (SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_base_docs,
             CAST(SUM(CASE WHEN b_seq = f_seq AND b_off = f_off
               THEN 1 ELSE 0 END) AS BIGINT) AS n_stable,
             CAST(SUM(CASE WHEN b_seq <> f_seq THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved_seq
           FROM rbj b JOIN rfj USING (doc_id) GROUP BY 1)
         SELECT rag.source, n_base_docs, n_stable, n_moved_seq,
           CAST(COALESCE(rdd.n_delta_docs, 0) AS BIGINT) AS n_delta_docs,
           round(1.0 - CAST(n_stable AS DOUBLE) / n_base_docs, 6)
             AS churn_frac
         FROM rag LEFT JOIN rdd USING (source) ORDER BY rag.source""",
    // base fold + delta fold, delta seq ids offset past the base
    // per-source maximum — the released packing is immutable
    "q218_incremental_packing" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("ib", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("idl", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2')""")},
         ibs AS (SELECT source, MAX(seq_id) + 1 AS seq0 FROM ibfold
           WHERE doc_id IS NOT NULL GROUP BY 1)
         SELECT doc_id, source, n_tokens, seq_id, off AS offset_in_seq,
           t AS n_kept, n_tokens - t AS n_dropped, 'base' AS origin
         FROM ibfold WHERE doc_id IS NOT NULL
         UNION ALL
         SELECT d.doc_id, d.source, d.n_tokens,
           d.seq_id + COALESCE(b.seq0, 0) AS seq_id,
           d.off AS offset_in_seq, d.t AS n_kept,
           d.n_tokens - d.t AS n_dropped, 'delta' AS origin
         FROM idlfold d LEFT JOIN ibs b USING (source)
         WHERE d.doc_id IS NOT NULL
         ORDER BY doc_id""",
    // the q86 drop list as tombstones over the cell index (assignment
    // + usable-norm, the cellIndex contract); the oracle RECOUNTS the
    // kept side from scratch where the Spark card DECREMENTS
    "q219_index_tombstones" -> s"""
         WITH ${semanticPairCtesFor("", "TRUE")},
         tdr AS (SELECT DISTINCT dropped_id AS id FROM ev WHERE rn = 1),
         tidx AS (SELECT id, cell FROM cl
           WHERE list_inner_product(vec, vec) > 0),
         tb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_base
           FROM tidx GROUP BY 1),
         td AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_dropped
           FROM tidx JOIN tdr USING (id) GROUP BY 1),
         tk AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM tidx WHERE id NOT IN (SELECT id FROM tdr) GROUP BY 1)
         SELECT tb.cell, n_base,
           CAST(COALESCE(td.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(COALESCE(tk.n_kept, 0) AS BIGINT) AS n_kept,
           round(CAST(COALESCE(td.n_dropped, 0) AS DOUBLE) / n_base, 6)
             AS drop_frac
         FROM tb LEFT JOIN td USING (cell) LEFT JOIN tk USING (cell)
         ORDER BY tb.cell""",
    // the shared trained-merge encode CTEs split by the md5 ingest
    // rule, pivoted per source, ratio of the ROUNDED fertilities
    "q220_fertility_trigger" -> s"""
         WITH $bpeEncodeCtes,
         fsd AS (SELECT source, n_words, COALESCE(n_tokens, 0) AS n_tokens,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS side
           FROM enc),
         fpv AS (SELECT source,
             SUM(CASE WHEN side = 'base' THEN n_words END) AS bw,
             SUM(CASE WHEN side = 'base' THEN n_tokens END) AS bt,
             SUM(CASE WHEN side = 'delta' THEN n_words END) AS dw,
             SUM(CASE WHEN side = 'delta' THEN n_tokens END) AS dt
           FROM fsd GROUP BY 1),
         fr AS (SELECT source,
             round(CAST(bt AS DOUBLE) / bw, 6) AS base_fertility,
             round(CAST(dt AS DOUBLE) / dw, 6) AS delta_fertility
           FROM fpv)
         SELECT source, base_fertility, delta_fertility,
           round(delta_fertility / base_fertility, 6) AS fert_ratio,
           CAST(COALESCE(
             abs(round(delta_fertility / base_fertility, 6) - 1.0) > 0.02,
             FALSE) AS BIGINT) AS flagged
         FROM fr ORDER BY source""",
    // three folds (base / first ingest / second ingest), seq offsets
    // chained through the per-source maxima. The STREAMING twin (q225)
    // gates on this IDENTICAL oracle: ordered-ingest packing
    // maintenance must be value-identical to the batch chain.
    "q221_packing_chain" -> packingChainSql,
    "q225_stream_packing" -> packingChainSql,
        // the shared quality CTEs, base-trained and refit tercile cuts,
    // both phase assignments, two grouped legs full-joined
    "q222_frozen_curriculum" -> s"""
         WITH $duckQualityCtes,
         zsd AS (SELECT doc_id, quality_score,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') AS is_delta
           FROM sc),
         ztb AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS b1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS b2
           FROM zsd WHERE NOT is_delta),
         ztf AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS f1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS f2
           FROM zsd),
         zst AS (SELECT doc_id, is_delta,
             CAST(CASE WHEN quality_score <= b1 THEN 1
                  WHEN quality_score <= b2 THEN 2 ELSE 3 END AS BIGINT)
               AS ph_frozen,
             CAST(CASE WHEN quality_score <= f1 THEN 1
                  WHEN quality_score <= f2 THEN 2 ELSE 3 END AS BIGINT)
               AS ph_refit
           FROM zsd, ztb, ztf),
         zfz AS (SELECT ph_frozen AS phase,
             CAST(SUM(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
               AS n_delta_frozen,
             CAST(SUM(CASE WHEN is_delta AND ph_refit <> ph_frozen
               THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_moved
           FROM zst GROUP BY 1),
         zrf AS (SELECT ph_refit AS phase, CAST(COUNT(*) AS BIGINT)
             AS n_delta_refit
           FROM zst WHERE is_delta GROUP BY 1)
         SELECT COALESCE(zfz.phase, zrf.phase) AS phase,
           COALESCE(n_base, 0) AS n_base,
           COALESCE(n_delta_frozen, 0) AS n_delta_frozen,
           COALESCE(n_delta_refit, 0) AS n_delta_refit,
           COALESCE(n_delta_moved, 0) AS n_delta_moved
         FROM zfz FULL OUTER JOIN zrf ON zfz.phase = zrf.phase
         ORDER BY 1""",
    // the q218 folds grouped to sequences per origin, the q208 shard
    // rule, released/new legs full-joined
    "q223_shard_maintenance" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("mb", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("md", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2')""")},
         ms1 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM mbfold
           WHERE doc_id IS NOT NULL GROUP BY 1),
         mdo AS (SELECT d.source, d.seq_id + COALESCE(b.s0, 0) AS seq_id,
             d.t
           FROM mdfold d LEFT JOIN ms1 b USING (source)
           WHERE d.doc_id IS NOT NULL),
         mrs AS (SELECT source, seq_id, SUM(t) AS kept FROM mbfold
           WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         mns AS (SELECT source, seq_id, SUM(t) AS kept FROM mdo
           GROUP BY 1, 2),
         mrg AS (SELECT CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % 8) AS BIGINT) AS shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_seqs_released,
             CAST(SUM(kept) AS BIGINT) AS kept_released
           FROM mrs GROUP BY 1),
         mng AS (SELECT CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % 8) AS BIGINT) AS shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_seqs_new,
             CAST(SUM(kept) AS BIGINT) AS kept_new
           FROM mns GROUP BY 1)
         SELECT COALESCE(mrg.shard_id, mng.shard_id) AS shard_id,
           COALESCE(n_seqs_released, 0) AS n_seqs_released,
           COALESCE(n_seqs_new, 0) AS n_seqs_new,
           COALESCE(kept_released, 0) AS kept_released,
           COALESCE(kept_new, 0) AS kept_new,
           round(CAST(COALESCE(kept_new, 0) AS DOUBLE) /
             (COALESCE(kept_released, 0) + COALESCE(kept_new, 0)), 6)
             AS new_frac
         FROM mrg FULL OUTER JOIN mng ON mrg.shard_id = mng.shard_id
         ORDER BY 1""",
    // the q215 phase CTEs + composite fold, sequences grouped, the
    // q208 shard rule, the (phase x shard) grid
    "q226_release_assembly" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         acnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         ath AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2 FROM sc),
         aph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN acnt USING (doc_id), ath),
         ${ffdFoldSqlFor("as",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph""")},
         aseq AS (SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS nd,
             SUM(t) AS kept
           FROM asfold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         agrd AS (SELECT
             CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % 8) AS BIGINT) AS shard_id,
             nd, kept
           FROM aseq)
         SELECT phase, shard_id, CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(nd) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS kept_tokens,
           CAST(COUNT(*) * $packBudget - SUM(kept) AS BIGINT) AS pad_tokens
         FROM agrd GROUP BY 1, 2 ORDER BY 1, 2""",
    // q204's per-lang frame swept over 4 budget multipliers, the
    // EXACT water-fill mirrored as the same window pass: prefix sums
    // in ascending-n_tokens order, the cap test against the remaining
    // weight (1 - Wprev), prefix-min to freeze the capped prefix,
    // then the per-budget water level over the uncapped set
    "q228_budget_waterfill" -> s"""
         WITH wlt AS (SELECT lang,
             CAST(len(${duckToks("text")}) AS BIGINT) AS nt FROM documents),
         wpl AS (SELECT lang, SUM(nt) AS n_tokens FROM wlt GROUP BY 1
           HAVING SUM(nt) > 0),
         wtz AS (SELECT SUM(n_tokens) AS tot,
           SUM(power(CAST(n_tokens AS DOUBLE), 0.7)) AS z07 FROM wpl),
         wbx(budget_x) AS (VALUES (2.0), (3.0), (3.875), (4.5)),
         wst AS (SELECT budget_x, lang, n_tokens,
             CAST(n_tokens AS DOUBLE) AS ntd,
             power(CAST(n_tokens AS DOUBLE), 0.7) / z07 AS w,
             budget_x * CAST(tot AS DOUBLE) AS b,
             CAST(n_tokens AS DOUBLE) * 4.0 AS cap
           FROM wpl, wtz, wbx),
         wcm AS (SELECT *, w * b AS a0,
             COALESCE(SUM(cap) OVER (PARTITION BY budget_x
               ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS cprev,
             COALESCE(SUM(w) OVER (PARTITION BY budget_x
               ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS wprev
           FROM wst),
         wcd AS (SELECT *, CASE WHEN w * (b - cprev) >= cap * (1.0 - wprev)
             THEN 1 ELSE 0 END AS cnd FROM wcm),
         wcp AS (SELECT *, MIN(cnd) OVER (PARTITION BY budget_x
             ORDER BY n_tokens, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
             AS is_capped FROM wcd),
         wag AS (SELECT budget_x,
             COALESCE(SUM(CASE WHEN is_capped THEN cap END), 0.0) AS ck,
             SUM(CASE WHEN NOT is_capped THEN w END) AS wu
           FROM wcp GROUP BY 1)
         SELECT wcp.budget_x, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(w, 6) AS w_a07, round(a0, 2) AS naive_alloc,
           round(CASE WHEN is_capped THEN cap
             ELSE w * (b - ck) / wu END, 2) AS final_alloc,
           round(CASE WHEN is_capped THEN cap
             ELSE w * (b - ck) / wu END / ntd, 6) AS final_epochs,
           CAST(CASE WHEN is_capped THEN 1 ELSE 0 END AS BIGINT) AS capped,
           round(CASE WHEN wu IS NULL THEN b - ck ELSE 0.0 END, 2)
             AS unallocated
         FROM wcp JOIN wag ON wcp.budget_x = wag.budget_x
         ORDER BY wcp.budget_x, lang""",
    // full IVF-PQ replay: pqTrainCtes' raw one-Lloyd book (the flat
    // leg, q136's fcb), q74's coarse Lloyd step re-listed as cent,
    // residuals against the refined cells, the residual one-Lloyd
    // book, both encodes, both ADC rankings (coarse term added LAST,
    // parenthesized to pin the Spark-side association), one shared
    // candidate/truth side
    "q229_ivfpq_residual" -> s"""
         WITH $pqTrainCtes,
         fref AS (SELECT sub, c, pos, round(AVG(vv), 6) AS c_val
           FROM vals GROUP BY sub, c, pos),
         fcb AS (SELECT sub, c, list(c_val ORDER BY pos) AS bvec
           FROM fref GROUP BY sub, c),
         cent0(cell, cvec) AS (VALUES $ivfCentroids),
         ${ivfPqTrainSqlFor("", "e")},
         fcode AS (SELECT n_id, sub, c FROM (
           SELECT ca.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY ca.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(
                     list_slice(ca.n_vec, b.sub * 8 + 1, b.sub * 8 + 8),
                     b.bvec), 6), b.c) AS rn
           FROM ca, fcb b) t WHERE rn = 1),
         rcode AS (SELECT n_id, sub, c FROM (
           SELECT r.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY r.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(
                     list_slice(r.rvecd, b.sub * 8 + 1, b.sub * 8 + 8),
                     b.bvec), 6), b.c) AS rn
           FROM rv r, rcb b) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e
           WHERE vec_id < 50),
         qa AS (SELECT q_id, q_vec, cell, cd FROM (
           SELECT q_id, q_vec, cell,
             list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, cent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.q_vec, qa.cd, ca.n_id
           FROM qa JOIN ca USING (cell) WHERE qa.q_id <> ca.n_id),
         fterms AS (SELECT pr.q_id, pr.n_id, k.sub,
             list_inner_product(
               list_slice(pr.q_vec, k.sub * 8 + 1, k.sub * 8 + 8),
               b.bvec) AS term
           FROM prs pr JOIN fcode k ON k.n_id = pr.n_id
           JOIN fcb b ON b.sub = k.sub AND b.c = k.c),
         fap AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(adc, 6) DESC, n_id) AS rank
           FROM (SELECT q_id, n_id, $pqTermPivot AS adc
             FROM fterms GROUP BY q_id, n_id) a) t WHERE rank <= 3),
         rterms AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(
               list_slice(pr.q_vec, k.sub * 8 + 1, k.sub * 8 + 8),
               b.bvec) AS term
           FROM prs pr JOIN rcode k ON k.n_id = pr.n_id
           JOIN rcb b ON b.sub = k.sub AND b.c = k.c),
         rap AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(adc, 6) DESC, n_id) AS rank
           FROM (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
             FROM rterms GROUP BY q_id, n_id) a) t WHERE rank <= 3),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, e cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         ncd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM prs),
         fs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(f.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN fap f ON ex.q_id = f.q_id AND ex.n_id = f.n_id),
         rs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(r.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN rap r ON ex.q_id = r.q_id AND ex.n_id = r.n_id)
         SELECT 'flat_pq' AS variant, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3, n_candidates
         FROM fs, ncd
         UNION ALL
         SELECT 'ivfpq_residual' AS variant, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3, n_candidates
         FROM rs, ncd
         ORDER BY variant""",
    // q195's fold at sequence granularity, the seeded md5 draw, the
    // q208 shard rule, three window ranks replaying the round-robin
    "q230_training_order" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("to")},
         tsq AS (SELECT source, seq_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS kept_tokens
           FROM tofold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         tdr AS (SELECT *,
             substr(md5('graft-order-v1' || ':' || source || ':' ||
               CAST(seq_id AS VARCHAR)), 1, 8) AS draw,
             CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % $orderShards) AS BIGINT) AS shard_id
           FROM tsq),
         tsp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY draw, seq_id) - 1 AS src_pos FROM tdr),
         tgp AS (SELECT *,
             ROW_NUMBER() OVER (ORDER BY src_pos, source) - 1 AS global_pos,
             ROW_NUMBER() OVER (PARTITION BY shard_id
               ORDER BY src_pos, source) - 1 AS shard_offset
           FROM tsp)
         SELECT CAST(global_pos AS BIGINT) AS global_pos, source, seq_id,
           shard_id, CAST(shard_offset AS BIGINT) AS shard_offset,
           CAST(src_pos AS BIGINT) AS src_pos, n_docs, kept_tokens, draw
         FROM tgp ORDER BY global_pos""",
    // the q228 window fill replayed per release slice (v1 = md5 base
    // rule, v2 = full corpus) at the fixed 3.875x budget, chained by
    // a lang-keyed left join
    "q231_release_waterfill" -> s"""
         WITH ${waterFillSqlFor("wa",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')")},
         ${waterFillSqlFor("wb", "TRUE")}
         SELECT 'v1' AS release, lang, n_tokens, w_a07, final_alloc,
           final_epochs, capped, 0.0 AS prev_alloc,
           final_alloc AS alloc_growth
         FROM waout
         UNION ALL
         SELECT 'v2' AS release, b.lang, b.n_tokens, b.w_a07, b.final_alloc,
           b.final_epochs, b.capped,
           COALESCE(a.final_alloc, 0.0) AS prev_alloc,
           round(b.final_alloc - COALESCE(a.final_alloc, 0.0), 2)
             AS alloc_growth
         FROM wbout b LEFT JOIN waout a USING (lang)
         ORDER BY release, lang""",
    // FULL rebuild replay under FROZEN base-trained artifacts: train
    // coarse cells + residual codebook on the base md5 slice only
    // (the shared training generator), then encode EVERY usable
    // vector against them — codes emitted as codebook POSITIONS
    // (rank of the centroid id within its subspace, mirroring the
    // Spark side's ordered-list encode) and rendered CSV
    "q232_stream_pq_index" -> s"""
         WITH $pqIndexEncodeCtes
         SELECT ea.cell, ea.n_id AS vec_id, ecsv.code,
           CASE WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS src
         FROM ea JOIN ecsv ON ecsv.n_id = ea.n_id
         ORDER BY vec_id""",
    // two folds (base alone, delta with chained per-source seq
    // offsets — packingChainSql's discipline), the q230 draw/shard
    // rules, released ranks frozen, appended ranks offset by the
    // released source/shard/total counts
    "q233_order_append" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("oba", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("oda", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2')""")},
         obs AS (SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS kept_tokens
           FROM obafold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         os0 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM obs GROUP BY 1),
         ods0 AS (SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS kept_tokens
           FROM odafold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         ods AS (SELECT o.source, o.seq_id + COALESCE(s.s0, 0) AS seq_id,
             n_docs, kept_tokens
           FROM ods0 o LEFT JOIN os0 s ON o.source = s.source),
         obd AS (SELECT *,
             substr(md5('graft-order-v1' || ':' || source || ':' ||
               CAST(seq_id AS VARCHAR)), 1, 8) AS draw,
             CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % $orderShards) AS BIGINT) AS shard_id
           FROM obs),
         odd AS (SELECT *,
             substr(md5('graft-order-v1' || ':' || source || ':' ||
               CAST(seq_id AS VARCHAR)), 1, 8) AS draw,
             CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % $orderShards) AS BIGINT) AS shard_id
           FROM ods),
         obr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY draw, seq_id) - 1 AS src_pos FROM obd),
         obg AS (SELECT *,
             ROW_NUMBER() OVER (ORDER BY src_pos, source) - 1 AS global_pos,
             ROW_NUMBER() OVER (PARTITION BY shard_id
               ORDER BY src_pos, source) - 1 AS shard_offset
           FROM obr),
         osc AS (SELECT source, COUNT(*) AS sc FROM obg GROUP BY 1),
         ohc AS (SELECT shard_id, COUNT(*) AS hc FROM obg GROUP BY 1),
         otc AS (SELECT COUNT(*) AS tc FROM obg),
         odr AS (SELECT o.*, ROW_NUMBER() OVER (PARTITION BY o.source
             ORDER BY draw, seq_id) - 1 + COALESCE(sc, 0) AS src_pos
           FROM odd o LEFT JOIN osc ON o.source = osc.source),
         odg AS (SELECT o.*,
             ROW_NUMBER() OVER (ORDER BY src_pos, o.source) - 1 + tc
               AS global_pos,
             ROW_NUMBER() OVER (PARTITION BY o.shard_id
               ORDER BY src_pos, o.source) - 1 + COALESCE(hc, 0)
               AS shard_offset
           FROM odr o LEFT JOIN ohc ON o.shard_id = ohc.shard_id, otc)
         SELECT CAST(global_pos AS BIGINT) AS global_pos, source, seq_id,
           shard_id, CAST(shard_offset AS BIGINT) AS shard_offset,
           CAST(src_pos AS BIGINT) AS src_pos, n_docs, kept_tokens, draw,
           'released' AS origin
         FROM obg
         UNION ALL
         SELECT CAST(global_pos AS BIGINT), source, seq_id, shard_id,
           CAST(shard_offset AS BIGINT), CAST(src_pos AS BIGINT),
           n_docs, kept_tokens, draw, 'appended'
         FROM odg
         ORDER BY global_pos""",
    // the q232 frozen-artifact replay (base training + whole-corpus
    // encode), then the q229 ADC query path run twice — once against
    // the base-only rows (stale), once against everything
    // (maintained) — against the full-corpus exact-IP truth
    "q234_pq_staleness" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${ivfPqTrainSqlFor("b", "eb")},
         ea AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM e, bcent c) t WHERE rn = 1),
         erv AS (SELECT n_id, cell,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ea),
         ecd AS (SELECT n_id, sub, c FROM (
           SELECT r.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY r.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(
                     list_slice(r.rvecd, b.sub * 8 + 1, b.sub * 8 + 8),
                     b.bvec), 6), b.c) AS rn
           FROM erv r, brcb b) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e
           WHERE vec_id < 50),
         qa AS (SELECT q_id, q_vec, cell, cd FROM (
           SELECT q_id, q_vec, cell,
             list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, bcent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.q_vec, qa.cd, ea.n_id
           FROM qa JOIN ea USING (cell) WHERE qa.q_id <> ea.n_id),
         trm AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(
               list_slice(pr.q_vec, k.sub * 8 + 1, k.sub * 8 + 8),
               b.bvec) AS term
           FROM prs pr JOIN ecd k ON k.n_id = pr.n_id
           JOIN brcb b ON b.sub = k.sub AND b.c = k.c),
         adc AS (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
           FROM trm GROUP BY q_id, n_id),
         map AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(adc, 6) DESC, n_id) AS rank FROM adc) t
           WHERE rank <= 3),
         sap AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY round(adc, 6) DESC, n_id) AS rank FROM adc
           WHERE substr(md5(CAST(n_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')) t WHERE rank <= 3),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, e cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         sh AS (SELECT ex.q_id, CAST(COUNT(s.n_id) AS BIGINT) AS stale_hits
           FROM ex LEFT JOIN sap s ON ex.q_id = s.q_id AND ex.n_id = s.n_id
           GROUP BY ex.q_id),
         mh AS (SELECT ex.q_id, CAST(COUNT(m.n_id) AS BIGINT) AS maint_hits,
             CAST(COUNT(m.n_id) FILTER (
               substr(md5(CAST(m.n_id AS VARCHAR)), 1, 1)
                 IN ('0', '1', '2')) AS BIGINT) AS maint_delta_hits,
             CAST(COUNT(*) FILTER (
               substr(md5(CAST(ex.n_id AS VARCHAR)), 1, 1)
                 IN ('0', '1', '2')) AS BIGINT) AS n_truth_delta
           FROM ex LEFT JOIN map m ON ex.q_id = m.q_id AND ex.n_id = m.n_id
           GROUP BY ex.q_id)
         SELECT sh.q_id, n_truth_delta, stale_hits, maint_hits,
           maint_delta_hits,
           stale_hits - (maint_hits - maint_delta_hits) AS crowded_out,
           round(stale_hits / 3.0, 6) AS stale_recall,
           round(maint_hits / 3.0, 6) AS maint_recall,
           maint_hits - stale_hits AS gain
         FROM sh JOIN mh ON sh.q_id = mh.q_id
         ORDER BY sh.q_id""",
    // the q229 full-corpus training replay, one ADC pass with the
    // query cell rank retained, then q216's probes(p) pattern: each
    // level is a crank filter + its own rank window; cost = the crank
    // histogram summed per level
    "q235_ivfpq_operating_point" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         ${ivfPqTrainSqlFor("v", "e")},
         vcd AS (SELECT n_id, sub, c FROM (
           SELECT r.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY r.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(
                     list_slice(r.rvecd, b.sub * 8 + 1, b.sub * 8 + 8),
                     b.bvec), 6), b.c) AS rn
           FROM vrv r, vrcb b) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e
           WHERE vec_id < 50),
         qa AS (SELECT q_id, q_vec, cell, cd, rn AS crank FROM (
           SELECT q_id, q_vec, cell,
             list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, vcent) t WHERE rn <= 16),
         prs AS (SELECT qa.q_id, qa.q_vec, qa.cd, qa.crank, ca.n_id
           FROM qa JOIN vca ca USING (cell) WHERE qa.q_id <> ca.n_id),
         trm AS (SELECT pr.q_id, pr.n_id, pr.cd, pr.crank, k.sub,
             list_inner_product(
               list_slice(pr.q_vec, k.sub * 8 + 1, k.sub * 8 + 8),
               b.bvec) AS term
           FROM prs pr JOIN vcd k ON k.n_id = pr.n_id
           JOIN vrcb b ON b.sub = k.sub AND b.c = k.c),
         adc AS (SELECT q_id, n_id, MAX(crank) AS crank,
             MAX(cd) + ($pqTermPivot) AS adc
           FROM trm GROUP BY q_id, n_id),
         probes(p) AS (VALUES (1), (2), (4), (8), (16)),
         rp AS (SELECT probes.p, a.q_id, a.n_id,
             ROW_NUMBER() OVER (PARTITION BY probes.p, a.q_id
               ORDER BY round(a.adc, 6) DESC, a.n_id) AS rank
           FROM probes JOIN adc a ON a.crank <= probes.p),
         ap AS (SELECT p, q_id, n_id FROM rp WHERE rank <= 3),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, e cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         cost AS (SELECT probes.p,
             CAST(COUNT(pr.n_id) AS BIGINT) AS n_candidates
           FROM probes LEFT JOIN prs pr ON pr.crank <= probes.p
           GROUP BY probes.p)
         SELECT CAST(probes.p AS BIGINT) AS n_probe, cost.n_candidates,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(a.n_id) AS BIGINT) AS n_found,
           CASE WHEN COUNT(*) = 0 THEN 0.0
             ELSE round(CAST(COUNT(a.n_id) AS DOUBLE) / COUNT(*), 6) END
             AS recall_at_3
         FROM probes CROSS JOIN ex e2
         LEFT JOIN ap a ON a.p = probes.p AND a.q_id = e2.q_id
           AND a.n_id = e2.n_id
         JOIN cost ON cost.p = probes.p
         GROUP BY probes.p, cost.n_candidates ORDER BY n_probe""",
    // the committed mixture applied to the order manifest: q228's
    // fill source-keyed at 2.0x, q215's phase-pure fold, per-epoch
    // reshuffled draws with the fractional-pass prefix, then the
    // weighted interleave replayed by integer cross-multiplication
    // (the Spark side's closed form, row for row)
    "q236_mixture_order" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ${waterFillSqlFor("mw", "TRUE", keyCol = "source",
           budgetX = "2.0")},
         mcnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         mth AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2 FROM sc),
         mph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN mcnt USING (doc_id), mth),
         ${ffdFoldSqlFor("mo",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM mph""")},
         msq AS (SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             str_split(source, ':')[2] AS source, seq_id,
             CAST(SUM(t) AS BIGINT) AS kept_tokens
           FROM mofold WHERE doc_id IS NOT NULL GROUP BY 1, 2, 3),
         mnp AS (SELECT phase, source, COUNT(*) AS n_ps FROM msq
           GROUP BY 1, 2),
         mep AS (SELECT phase, mnp.source,
             CAST(floor(final_epochs) AS BIGINT) AS fe,
             CAST(floor(round((final_epochs - floor(final_epochs))
               * CAST(n_ps AS DOUBLE), 6)) AS BIGINT) AS n_part
           FROM mnp JOIN mwout w ON w.lang = mnp.source),
         mrows0 AS (SELECT q.phase, q.source, q.seq_id, q.kept_tokens,
             unnest(generate_series(0, e.fe)) AS epoch, e.fe, e.n_part
           FROM msq q JOIN mep e ON e.phase = q.phase
             AND e.source = q.source),
         mdrw AS (SELECT *, substr(md5('graft-order-v2' || ':'
             || CAST(epoch AS VARCHAR) || ':' || CAST(phase AS VARCHAR)
             || ':' || source || ':' || CAST(seq_id AS VARCHAR)), 1, 8)
             AS draw FROM mrows0),
         mkept AS (SELECT * FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY phase, source, epoch
               ORDER BY draw, seq_id) AS er FROM mdrw) t
           WHERE epoch < fe OR er <= n_part),
         msp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY phase, source
             ORDER BY epoch, draw, seq_id) - 1 AS src_pos FROM mkept),
         mspan AS (SELECT phase, source, COUNT(*) AS n FROM msp
           GROUP BY 1, 2),
         mpos AS (SELECT r.phase, r.source, r.seq_id, r.epoch,
             r.kept_tokens, r.draw, r.src_pos,
             SUM(LEAST((CAST(r.src_pos + 1 AS HUGEINT) * s.n - 1) // rn.n,
                 s.n)
               + CASE WHEN s.source < r.source
                   AND (CAST(r.src_pos + 1 AS HUGEINT) * s.n) % rn.n = 0
                 THEN 1 ELSE 0 END) AS phase_pos
           FROM msp r
           JOIN mspan rn ON rn.phase = r.phase AND rn.source = r.source
           JOIN mspan s ON s.phase = r.phase
           GROUP BY r.phase, r.source, r.seq_id, r.epoch, r.kept_tokens,
             r.draw, r.src_pos),
         moff AS (SELECT phase, SUM(n) AS np FROM mspan GROUP BY 1),
         moff2 AS (SELECT phase, COALESCE(SUM(np) OVER (ORDER BY phase
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS poff FROM moff)
         SELECT CAST(p.phase_pos + o.poff AS BIGINT) AS global_pos,
           p.phase, p.source, p.seq_id, CAST(p.epoch AS BIGINT) AS epoch,
           CAST(p.src_pos AS BIGINT) AS src_pos, p.kept_tokens, p.draw
         FROM mpos p JOIN moff2 o ON o.phase = p.phase
         ORDER BY global_pos""",
    // the aniso rehearsal corpus, one trained-coarse Lloyd step, the
    // RESIDUAL-variance snake layout, then the per-layout residual
    // train/encode/ADC/MSE blocks (residOpqSqlFor) against the shared
    // trained-cell routing and exact-IP truth
    "q237_residual_opq" -> s"""
         WITH $anisoCtes,
         cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         aposs AS (SELECT unnest(generate_series(0, 7)) AS pos),
         ${ivfPqTrainSqlFor("w7", "au")},
         rvr AS (SELECT dim, round(var_pop(rvecd[dim + 1]), 6) AS v
           FROM w7rv CROSS JOIN adims GROUP BY dim),
         rrk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1
             AS r FROM rvr),
         rbmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM rrk),
         rimap AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM adims),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM au
           WHERE vec_id < 50),
         qa AS (SELECT q_id, cell, cd FROM (
           SELECT q_id, cell, list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, w7cent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.cd, ca.n_id
           FROM qa JOIN w7ca ca USING (cell) WHERE qa.q_id <> ca.n_id),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, au cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         ${residOpqSqlFor("ri", "rimap")},
         ${residOpqSqlFor("rb", "rbmap")}
         SELECT 'balanced' AS layout, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3, resid_mse
         FROM rbrec, rbm8
         UNION ALL
         SELECT 'identity', n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END,
           resid_mse
         FROM rirec, rim8
         ORDER BY layout""",
    // frozen base-trained artifacts (the q232 training replay), then
    // the frozenMseSqlFor block per slice: base / md5-delta /
    // encoder-drifted delta (dims 0-7 x4), ratio'd against base
    "q238_pq_retrain" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ed AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2')),
         esh AS (SELECT vec_id,
             list(vec[dim + 1] * CASE WHEN dim < 8 THEN 4.0 ELSE 1.0 END
               ORDER BY dim) AS vec
           FROM ed CROSS JOIN sdims GROUP BY vec_id),
         ${ivfPqTrainSqlFor("b", "eb")},
         ${frozenMseSqlFor("fb", "eb")},
         ${frozenMseSqlFor("fd", "ed")},
         ${frozenMseSqlFor("fs", "esh")}
         SELECT 'base' AS slice, n_vecs, frozen_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6)
             AS mse_ratio,
           CAST(CASE WHEN round(frozen_mse /
               (SELECT frozen_mse FROM fbm8), 6) > 1.25
             THEN 1 ELSE 0 END AS BIGINT) AS retrain
         FROM fbm8
         UNION ALL
         SELECT 'delta', n_vecs, frozen_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6),
           CAST(CASE WHEN round(frozen_mse /
               (SELECT frozen_mse FROM fbm8), 6) > 1.25
             THEN 1 ELSE 0 END AS BIGINT)
         FROM fdm8
         UNION ALL
         SELECT 'shifted', n_vecs, frozen_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6),
           CAST(CASE WHEN round(frozen_mse /
               (SELECT frozen_mse FROM fbm8), 6) > 1.25
             THEN 1 ELSE 0 END AS BIGINT)
         FROM fsm8
         ORDER BY slice""",
    // the q232 rebuild replay with the chain step labeled: delta1 =
    // md5 '0', delta2 = md5 '1'/'2' — rebuild == chained append
    // because the frozen-artifact encode is per-row deterministic
    "q239_pq_index_chain" -> s"""
         WITH $pqIndexEncodeCtes
         SELECT ea.cell, ea.n_id AS vec_id, ecsv.code,
           CASE WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1) = '0'
               THEN 'delta1'
             WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1)
               IN ('1', '2') THEN 'delta2'
             ELSE 'base' END AS src
         FROM ea JOIN ecsv ON ecsv.n_id = ea.n_id
         ORDER BY vec_id""",
    // q238's slices, frozen vs post-drift-retrained artifacts
    // (identity + residual-variance OPQ), all scoring the shifted
    // slice, ratio'd against the base-frozen reference
    "q240_pq_retrain_ladder" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ed AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2')),
         esh AS (SELECT vec_id,
             list(vec[dim + 1] * CASE WHEN dim < 8 THEN 4.0 ELSE 1.0 END
               ORDER BY dim) AS vec
           FROM ed CROSS JOIN sdims GROUP BY vec_id),
         em AS (SELECT * FROM eb UNION ALL SELECT * FROM esh),
         ${ivfPqTrainSqlFor("b", "eb")},
         ${ivfPqTrainSqlFor("r", "em")},
         ${frozenMseSqlFor("fb", "eb")},
         ${frozenMseSqlFor("fs", "esh")},
         ${frozenMseSqlFor("rt", "esh", "rcent", "rrcb")},
         mvr AS (SELECT dim, round(var_pop(rvecd[dim + 1]), 6) AS v
           FROM rrv CROSS JOIN sdims GROUP BY dim),
         mrk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1
             AS r FROM mvr),
         mbmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM mrk),
         osv AS (SELECT r.n_id AS vec_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM rrv r CROSS JOIN mbmap m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         ok0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM osv s JOIN pqc p ON p.sub = s.sub),
         ocd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM ok0) t WHERE rn = 1),
         oref AS (SELECT cd.sub, cd.c, poss.pos,
             round(avg(cd.sv[poss.pos + 1]), 6) AS cv
           FROM ocd cd CROSS JOIN poss GROUP BY 1, 2, 3),
         orc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM oref GROUP BY 1, 2),
         ossv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM rtrv r CROSS JOIN mbmap m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         omk AS (SELECT s.n_id, s.sub, s.sv, b.c,
             list_inner_product(b.rvec, b.rvec)
               - 2 * list_inner_product(s.sv, b.rvec) AS key
           FROM ossv s JOIN orc b ON b.sub = s.sub),
         omm AS (SELECT n_id, sub,
             list_inner_product(sv, sv) + key AS err FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY n_id, sub
               ORDER BY round(key, 6), c) AS rn FROM omk) t
           WHERE rn = 1),
         ome AS (SELECT sub, round(avg(err), 6) AS mse,
             COUNT(*) AS nv FROM omm GROUP BY sub),
         om8 AS (SELECT CAST(MAX(nv) AS BIGINT) AS n_vecs,
             round(${(0 until 8).map(i => s"MAX(mse) FILTER (sub = $i)")
               .mkString(" + ")}, 6) AS shifted_mse
           FROM ome)
         SELECT 'frozen' AS regime, n_vecs, frozen_mse AS shifted_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6)
             AS mse_ratio
         FROM fsm8
         UNION ALL
         SELECT 'retrained', n_vecs, frozen_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6)
         FROM rtm8
         UNION ALL
         SELECT 'retrained_opq', n_vecs, shifted_mse,
           round(shifted_mse / (SELECT frozen_mse FROM fbm8), 6)
         FROM om8
         ORDER BY regime""",
    // FROZEN v1 artifacts (terciles + fill on the v1 slice), every
    // doc phased under them, two packing folds with the q233
    // composite-key seq offset, one mixtureBlockSqlFor per block,
    // appended positions offset past the released cursor counts
    "q241_mixture_append" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ath AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2
           FROM sc WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${waterFillSqlFor("aw",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')",
           keyCol = "source", budgetX = "2.0")},
         acnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         aph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN acnt USING (doc_id), ath),
         ${ffdFoldSqlFor("ar",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("ad",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                IN ('0', '1', '2')""")},
         ar0 AS (SELECT source, seq_id, CAST(SUM(t) AS BIGINT)
             AS kept_tokens
           FROM arfold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         as0 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM ar0 GROUP BY 1),
         ad0 AS (SELECT source, seq_id, CAST(SUM(t) AS BIGINT)
             AS kept_tokens
           FROM adfold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         arq AS (SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             str_split(source, ':')[2] AS source, seq_id, kept_tokens
           FROM ar0),
         adq AS (SELECT CAST(str_split(o.source, ':')[1] AS BIGINT)
               AS phase,
             str_split(o.source, ':')[2] AS source,
             o.seq_id + COALESCE(s.s0, 0) AS seq_id, o.kept_tokens
           FROM ad0 o LEFT JOIN as0 s ON o.source = s.source),
         ${mixtureBlockSqlFor("br", "arq", "awout")},
         ${mixtureBlockSqlFor("bd", "adq", "awout")},
         crc AS (SELECT phase, source, COUNT(*) AS rc FROM brsp
           GROUP BY 1, 2),
         ctc AS (SELECT COUNT(*) AS tc FROM brsp)
         SELECT CAST(p.phase_pos + o.poff AS BIGINT) AS global_pos,
           p.phase, p.source, p.seq_id, CAST(p.epoch AS BIGINT) AS epoch,
           CAST(p.src_pos AS BIGINT) AS src_pos, p.kept_tokens, p.draw,
           'released' AS origin
         FROM brps p JOIN bro2 o ON o.phase = p.phase
         UNION ALL
         SELECT CAST(p.phase_pos + o.poff + tc AS BIGINT), p.phase,
           p.source, p.seq_id, CAST(p.epoch AS BIGINT),
           CAST(p.src_pos + COALESCE(rc, 0) AS BIGINT), p.kept_tokens,
           p.draw, 'appended'
         FROM bdps p JOIN bdo2 o ON o.phase = p.phase
         LEFT JOIN crc ON crc.phase = p.phase AND crc.source = p.source,
           ctc
         ORDER BY global_pos""",
    // the q232 rebuild replay with the frozen OPQ bundle: base
    // training, the layout dealt from the BASE residual variances
    // (q240's snake rule on brv), the codebook trained UNDER the
    // perm on the base residuals, then a whole-corpus perm-gathered
    // encode — maintenance == rebuild with the permutation carried
    "q242_stream_opq_index" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${ivfPqTrainSqlFor("b", "eb")},
         qvr AS (SELECT dim, round(var_pop(rvecd[dim + 1]), 6) AS v
           FROM brv CROSS JOIN sdims GROUP BY dim),
         qrk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1
             AS r FROM qvr),
         qbmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM qrk),
         qsv AS (SELECT r.n_id AS vec_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM brv r CROSS JOIN qbmap m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         qk0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM qsv s JOIN pqc p ON p.sub = s.sub),
         qcd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM qk0) t WHERE rn = 1),
         qref AS (SELECT cd.sub, cd.c, poss.pos,
             round(avg(cd.sv[poss.pos + 1]), 6) AS cv
           FROM qcd cd CROSS JOIN poss GROUP BY 1, 2, 3),
         qrc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM qref GROUP BY 1, 2),
         ea AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM e, bcent c) t WHERE rn = 1),
         erv AS (SELECT n_id, cell,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ea),
         esv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM erv r CROSS JOIN qbmap m GROUP BY r.n_id, m.sub),
         ecd AS (SELECT n_id, sub, c FROM (
           SELECT s.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY s.n_id, b.sub
               ORDER BY round(list_inner_product(b.rvec, b.rvec)
                 - 2 * list_inner_product(s.sv, b.rvec), 6), b.c) AS rn
           FROM esv s JOIN qrc b ON b.sub = s.sub) t WHERE rn = 1),
         epos AS (SELECT sub, c,
             ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c) - 1 AS p
           FROM qrc),
         ecsv AS (SELECT n_id,
             string_agg(CAST(p AS VARCHAR), ',' ORDER BY ecd.sub) AS code
           FROM ecd JOIN epos ON epos.sub = ecd.sub AND epos.c = ecd.c
           GROUP BY n_id)
         SELECT ea.cell, ea.n_id AS vec_id, ecsv.code,
           CASE WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS src
         FROM ea JOIN ecsv ON ecsv.n_id = ea.n_id
         ORDER BY vec_id""",
    // the q237 identity-leg scaffold (aniso corpus, trained coarse
    // routing, identity residual codebook, fenced exact-IP truth),
    // the ADC ranks kept to 10 for the shortlist, then the exact
    // inner-product re-rank over the shortlist's raw vectors
    "q243_adc_rerank" -> s"""
         WITH $anisoCtes,
         cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         aposs AS (SELECT unnest(generate_series(0, 7)) AS pos),
         ${ivfPqTrainSqlFor("w7", "au")},
         rimap AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM adims),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM au
           WHERE vec_id < 50),
         qa AS (SELECT q_id, cell, cd FROM (
           SELECT q_id, cell, list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, w7cent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.cd, ca.n_id
           FROM qa JOIN w7ca ca USING (cell) WHERE qa.q_id <> ca.n_id),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, au cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         ${residOpqSqlFor("ri", "rimap")},
         rsh AS (SELECT q_id, n_id FROM rirkd WHERE rank <= 10),
         rrx AS (SELECT s.q_id, s.n_id,
             ROW_NUMBER() OVER (PARTITION BY s.q_id
               ORDER BY round(list_inner_product(q.q_vec, c.vec), 6) DESC,
               s.n_id) AS rank
           FROM rsh s JOIN qq q ON q.q_id = s.q_id
           JOIN au c ON c.vec_id = s.n_id),
         rr3 AS (SELECT q_id, n_id FROM rrx WHERE rank <= 3),
         rrrec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN rr3 a
             ON ex.q_id = a.q_id AND ex.n_id = a.n_id)
         SELECT 'adc' AS leg, CAST(3 AS BIGINT) AS k_short, n_truth,
           n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3
         FROM rirec
         UNION ALL
         SELECT 'adc_rerank', 10, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
         FROM rrrec
         ORDER BY leg""",
    // the q230 fold + order rules with the per-sequence tombstone
    // mask accounting (md5 first hex 'f') read straight off the
    // fold's per-doc (offset, kept) spans; positions are q230's
    // verbatim, the loss accounting shard-windowed
    "q244_order_tombstones" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("tb")},
         tts AS (SELECT source, seq_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t) AS BIGINT) AS kept_tokens,
             CAST(COUNT(*) FILTER (
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f')
               AS BIGINT) AS n_masked_docs,
             CAST(COALESCE(SUM(t) FILTER (
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'), 0)
               AS BIGINT) AS masked_tokens,
             substr(md5(COALESCE(string_agg(
               CAST(off AS VARCHAR) || ':' || CAST(t AS VARCHAR), ','
               ORDER BY off, t) FILTER (
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'), '')),
               1, 16) AS masked_spans_fp
           FROM tbfold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         ttd AS (SELECT *,
             substr(md5('graft-order-v1' || ':' || source || ':' ||
               CAST(seq_id AS VARCHAR)), 1, 8) AS draw,
             CAST(((strpos('0123456789abcdef',
               substr(md5(source || ':' || CAST(seq_id AS VARCHAR)), 1, 1))
               - 1) % $orderShards) AS BIGINT) AS shard_id
           FROM tts),
         ttp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY draw, seq_id) - 1 AS src_pos FROM ttd),
         ttg AS (SELECT *,
             ROW_NUMBER() OVER (ORDER BY src_pos, source) - 1 AS global_pos,
             ROW_NUMBER() OVER (PARTITION BY shard_id
               ORDER BY src_pos, source) - 1 AS shard_offset
           FROM ttp)
         SELECT CAST(global_pos AS BIGINT) AS global_pos, source, seq_id,
           shard_id, CAST(shard_offset AS BIGINT) AS shard_offset,
           CAST(src_pos AS BIGINT) AS src_pos, n_docs, kept_tokens,
           n_masked_docs, masked_tokens,
           kept_tokens - masked_tokens AS live_tokens, masked_spans_fp,
           CAST(SUM(masked_tokens) OVER (PARTITION BY shard_id) AS BIGINT)
             AS shard_masked_tokens,
           CAST(SUM(kept_tokens - masked_tokens)
             OVER (PARTITION BY shard_id) AS BIGINT) AS shard_live_tokens
         FROM ttg ORDER BY global_pos""",
    // the q243 scaffold with the ADC ranks kept to the max level;
    // one exact-dot frame over the max shortlist, each level a rank
    // filter + its own re-rank window + recall/cost aggregates
    "q245_rerank_operating_point" -> s"""
         WITH $anisoCtes,
         cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         aposs AS (SELECT unnest(generate_series(0, 7)) AS pos),
         ${ivfPqTrainSqlFor("w7", "au")},
         rimap AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM adims),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM au
           WHERE vec_id < 50),
         qa AS (SELECT q_id, cell, cd FROM (
           SELECT q_id, cell, list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, w7cent) t WHERE rn <= 4),
         prs AS (SELECT qa.q_id, qa.cd, ca.n_id
           FROM qa JOIN w7ca ca USING (cell) WHERE qa.q_id <> ca.n_id),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, au cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         ${residOpqSqlFor("ri", "rimap")},
         rex AS (SELECT s.q_id, s.n_id, s.rank AS arank,
             round(list_inner_product(q.q_vec, c.vec), 6) AS ip
           FROM rirkd s JOIN qq q ON q.q_id = s.q_id
           JOIN au c ON c.vec_id = s.n_id
           WHERE s.rank <= 20),
         lvl AS (SELECT unnest([3, 5, 10, 20]) AS k_short),
         rl AS (SELECT l.k_short, r.q_id, r.n_id,
             ROW_NUMBER() OVER (PARTITION BY l.k_short, r.q_id
               ORDER BY r.ip DESC, r.n_id) AS rr
           FROM lvl l JOIN rex r ON r.arank <= l.k_short),
         rt AS (SELECT k_short, q_id, n_id FROM rl WHERE rr <= 3),
         rne AS (SELECT l.k_short, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM lvl l JOIN rex r ON r.arank <= l.k_short GROUP BY 1),
         rrc AS (SELECT l.k_short, CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(t.n_id) AS BIGINT) AS n_found
           FROM lvl l CROSS JOIN ex e LEFT JOIN rt t
             ON t.k_short = l.k_short AND t.q_id = e.q_id
             AND t.n_id = e.n_id
           GROUP BY 1)
         SELECT CAST(r.k_short AS BIGINT) AS k_short, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3, n_exact
         FROM rrc r JOIN rne n USING (k_short) ORDER BY k_short""",
    // the q242 frozen-bundle replay (train + layout deal + codebook
    // + whole-corpus encode under BOTH layouts), then each layout's
    // LUT-style ADC over the SAME frozen-cell candidates against the
    // fenced full-corpus exact-IP truth
    "q246_opq_index_serving" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${ivfPqTrainSqlFor("b", "eb")},
         qvr AS (SELECT dim, round(var_pop(rvecd[dim + 1]), 6) AS v
           FROM brv CROSS JOIN sdims GROUP BY dim),
         qrk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1
             AS r FROM qvr),
         qbmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM qrk),
         imap AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM sdims),
         qsv AS (SELECT r.n_id AS vec_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM brv r CROSS JOIN qbmap m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         qk0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM qsv s JOIN pqc p ON p.sub = s.sub),
         qcd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM qk0) t WHERE rn = 1),
         qref AS (SELECT cd.sub, cd.c, poss.pos,
             round(avg(cd.sv[poss.pos + 1]), 6) AS cv
           FROM qcd cd CROSS JOIN poss GROUP BY 1, 2, 3),
         qrc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM qref GROUP BY 1, 2),
         ea AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM e, bcent c) t WHERE rn = 1),
         erv AS (SELECT n_id, cell,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ea),
         besv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM erv r CROSS JOIN qbmap m GROUP BY r.n_id, m.sub),
         bcd AS (SELECT n_id, sub, c FROM (
           SELECT s.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY s.n_id, b.sub
               ORDER BY round(list_inner_product(b.rvec, b.rvec)
                 - 2 * list_inner_product(s.sv, b.rvec), 6), b.c) AS rn
           FROM besv s JOIN qrc b ON b.sub = s.sub) t WHERE rn = 1),
         iesv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM erv r CROSS JOIN imap m GROUP BY r.n_id, m.sub),
         icd AS (SELECT n_id, sub, c FROM (
           SELECT s.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY s.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(s.sv, b.bvec), 6), b.c) AS rn
           FROM iesv s JOIN brcb b ON b.sub = s.sub) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e
           WHERE vec_id < 50),
         qac AS (SELECT q_id, cell, cd FROM (
           SELECT q_id, cell, list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, bcent) t WHERE rn <= 4),
         prs AS (SELECT qac.q_id, qac.cd, ea.n_id
           FROM qac JOIN ea ON ea.cell = qac.cell
           WHERE qac.q_id <> ea.n_id),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, e cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         bqsv AS (SELECT q.q_id, m.sub,
             list(q.q_vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM qq q CROSS JOIN qbmap m GROUP BY q.q_id, m.sub),
         iqsv AS (SELECT q.q_id, m.sub,
             list(q.q_vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM qq q CROSS JOIN imap m GROUP BY q.q_id, m.sub),
         btm AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(qs.sv, r.rvec) AS term
           FROM prs pr
           JOIN bcd k ON k.n_id = pr.n_id
           JOIN qrc r ON r.sub = k.sub AND r.c = k.c
           JOIN bqsv qs ON qs.q_id = pr.q_id AND qs.sub = k.sub),
         bap AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(adc, 6) DESC, n_id) AS rank
             FROM (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
               FROM btm GROUP BY q_id, n_id) a) t WHERE rank <= 3),
         brc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN bap a
             ON ex.q_id = a.q_id AND ex.n_id = a.n_id),
         itm AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(qs.sv, r.bvec) AS term
           FROM prs pr
           JOIN icd k ON k.n_id = pr.n_id
           JOIN brcb r ON r.sub = k.sub AND r.c = k.c
           JOIN iqsv qs ON qs.q_id = pr.q_id AND qs.sub = k.sub),
         iap AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(adc, 6) DESC, n_id) AS rank
             FROM (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
               FROM itm GROUP BY q_id, n_id) a) t WHERE rank <= 3),
         irc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN iap a
             ON ex.q_id = a.q_id AND ex.n_id = a.n_id)
         SELECT 'balanced' AS layout, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3
         FROM brc
         UNION ALL
         SELECT 'identity', n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
         FROM irc
         ORDER BY layout""",
    // the q236 occurrence machinery (fold, fill, epochs, draws,
    // partial-pass rule) with the q244 tombstone mask carried on the
    // seq frame, aggregated per (phase, source) — no rank CTEs
    "q247_takedown_stream_cost" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ${waterFillSqlFor("mw", "TRUE", keyCol = "source",
           budgetX = "2.0")},
         mcnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         mth AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2 FROM sc),
         mph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN mcnt USING (doc_id), mth),
         ${ffdFoldSqlFor("mo",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM mph""")},
         msq AS (SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             str_split(source, ':')[2] AS source, seq_id,
             CAST(SUM(t) AS BIGINT) AS kept_tokens,
             CAST(COALESCE(SUM(t) FILTER (
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'), 0)
               AS BIGINT) AS masked_tokens
           FROM mofold WHERE doc_id IS NOT NULL GROUP BY 1, 2, 3),
         mnp AS (SELECT phase, source, COUNT(*) AS n_ps FROM msq
           GROUP BY 1, 2),
         mep AS (SELECT phase, mnp.source,
             CAST(floor(final_epochs) AS BIGINT) AS fe,
             CAST(floor(round((final_epochs - floor(final_epochs))
               * CAST(n_ps AS DOUBLE), 6)) AS BIGINT) AS n_part
           FROM mnp JOIN mwout w ON w.lang = mnp.source),
         mrows0 AS (SELECT q.phase, q.source, q.seq_id, q.kept_tokens,
             q.masked_tokens,
             unnest(generate_series(0, e.fe)) AS epoch, e.fe, e.n_part
           FROM msq q JOIN mep e ON e.phase = q.phase
             AND e.source = q.source),
         mdrw AS (SELECT *, substr(md5('graft-order-v2' || ':'
             || CAST(epoch AS VARCHAR) || ':' || CAST(phase AS VARCHAR)
             || ':' || source || ':' || CAST(seq_id AS VARCHAR)), 1, 8)
             AS draw FROM mrows0),
         mkept AS (SELECT * FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY phase, source, epoch
               ORDER BY draw, seq_id) AS er FROM mdrw) t
           WHERE epoch < fe OR er <= n_part)
         SELECT phase, source, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (masked_tokens > 0) AS BIGINT)
             AS n_masked_rows,
           CAST(SUM(kept_tokens) AS BIGINT) AS stream_tokens,
           CAST(SUM(masked_tokens) AS BIGINT) AS masked_stream_tokens,
           CAST(SUM(kept_tokens - masked_tokens) AS BIGINT)
             AS live_stream_tokens,
           round(CAST(SUM(masked_tokens) AS DOUBLE)
             / CAST(SUM(kept_tokens) AS DOUBLE), 6) AS mask_rate
         FROM mkept GROUP BY 1, 2 ORDER BY 1, 2""",
    // the q246 balanced-leg replay with the ADC ranks kept to the
    // k'=10 shortlist, then the exact inner-product re-rank over the
    // raw-vector store (one id-keyed gather of the shortlist)
    "q248_serving_stack" -> s"""
         WITH cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${ivfPqTrainSqlFor("b", "eb")},
         qvr AS (SELECT dim, round(var_pop(rvecd[dim + 1]), 6) AS v
           FROM brv CROSS JOIN sdims GROUP BY dim),
         qrk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1
             AS r FROM qvr),
         qbmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM qrk),
         qsv AS (SELECT r.n_id AS vec_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM brv r CROSS JOIN qbmap m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         qk0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM qsv s JOIN pqc p ON p.sub = s.sub),
         qcd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM qk0) t WHERE rn = 1),
         qref AS (SELECT cd.sub, cd.c, poss.pos,
             round(avg(cd.sv[poss.pos + 1]), 6) AS cv
           FROM qcd cd CROSS JOIN poss GROUP BY 1, 2, 3),
         qrc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM qref GROUP BY 1, 2),
         ea AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM e, bcent c) t WHERE rn = 1),
         erv AS (SELECT n_id, cell,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ea),
         besv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM erv r CROSS JOIN qbmap m GROUP BY r.n_id, m.sub),
         bcd AS (SELECT n_id, sub, c FROM (
           SELECT s.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY s.n_id, b.sub
               ORDER BY round(list_inner_product(b.rvec, b.rvec)
                 - 2 * list_inner_product(s.sv, b.rvec), 6), b.c) AS rn
           FROM besv s JOIN qrc b ON b.sub = s.sub) t WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e
           WHERE vec_id < 50),
         qac AS (SELECT q_id, cell, cd FROM (
           SELECT q_id, cell, list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, bcent) t WHERE rn <= 4),
         prs AS (SELECT qac.q_id, qac.cd, ea.n_id
           FROM qac JOIN ea ON ea.cell = qac.cell
           WHERE qac.q_id <> ea.n_id),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, e cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         bqsv AS (SELECT q.q_id, m.sub,
             list(q.q_vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM qq q CROSS JOIN qbmap m GROUP BY q.q_id, m.sub),
         btm AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(qs.sv, r.rvec) AS term
           FROM prs pr
           JOIN bcd k ON k.n_id = pr.n_id
           JOIN qrc r ON r.sub = k.sub AND r.c = k.c
           JOIN bqsv qs ON qs.q_id = pr.q_id AND qs.sub = k.sub),
         brkd AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY
               q_id ORDER BY round(adc, 6) DESC, n_id) AS rank
             FROM (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
               FROM btm GROUP BY q_id, n_id) a),
         bap AS (SELECT q_id, n_id FROM brkd WHERE rank <= 3),
         brc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN bap a
             ON ex.q_id = a.q_id AND ex.n_id = a.n_id),
         bsh AS (SELECT q_id, n_id FROM brkd WHERE rank <= 10),
         rrx AS (SELECT s.q_id, s.n_id,
             ROW_NUMBER() OVER (PARTITION BY s.q_id
               ORDER BY round(list_inner_product(q.q_vec, c.vec), 6) DESC,
               s.n_id) AS rank
           FROM bsh s JOIN qq q ON q.q_id = s.q_id
           JOIN e c ON c.vec_id = s.n_id),
         rr3 AS (SELECT q_id, n_id FROM rrx WHERE rank <= 3),
         rrc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ex LEFT JOIN rr3 a
             ON ex.q_id = a.q_id AND ex.n_id = a.n_id)
         SELECT 'adc_index' AS leg, CAST(3 AS BIGINT) AS k_short,
           n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
             AS recall_at_3
         FROM brc
         UNION ALL
         SELECT 'adc_index_rerank', 10, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN 0.0
             ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END
         FROM rrc
         ORDER BY leg""",
    // the q232 rebuild replay restricted to the retained population:
    // deletion under frozen artifacts commutes with the per-row
    // deterministic encode, so retained == rebuild row-for-row
    "q249_pq_index_tombstones" -> s"""
         WITH $pqIndexEncodeCtes
         SELECT ea.cell, ea.n_id AS vec_id, ecsv.code,
           CASE WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1)
             IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS src
         FROM ea JOIN ecsv ON ecsv.n_id = ea.n_id
         WHERE substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1) <> 'f'
         ORDER BY vec_id""",
    // the q241 frozen artifacts, THREE chained folds (each ingest's
    // seq ids offset past the running union max), one
    // mixtureBlockSqlFor per step, positions offset by the running
    // cursor counts of everything shipped before the step
    "q250_mixture_chain" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ath AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2
           FROM sc WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')),
         ${waterFillSqlFor("aw",
           "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1', '2')",
           keyCol = "source", budgetX = "2.0")},
         acnt AS (SELECT doc_id,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         aph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN acnt USING (doc_id), ath),
         ${ffdFoldSqlFor("cr",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("c1",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'""")},
         ${ffdFoldSqlFor("c2",
           """SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                IN ('1', '2')""")},
         cr0 AS (SELECT source, seq_id, CAST(SUM(t) AS BIGINT)
             AS kept_tokens
           FROM crfold WHERE doc_id IS NOT NULL GROUP BY 1, 2),
         cs0 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM cr0 GROUP BY 1),
         c10 AS (SELECT o.source, o.seq_id + COALESCE(s.s0, 0) AS seq_id,
             o.kept_tokens
           FROM (SELECT source, seq_id, CAST(SUM(t) AS BIGINT)
               AS kept_tokens
             FROM c1fold WHERE doc_id IS NOT NULL GROUP BY 1, 2) o
           LEFT JOIN cs0 s ON o.source = s.source),
         cs1 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM (
             SELECT source, seq_id FROM cr0
             UNION ALL SELECT source, seq_id FROM c10) GROUP BY 1),
         c20 AS (SELECT o.source, o.seq_id + COALESCE(s.s0, 0) AS seq_id,
             o.kept_tokens
           FROM (SELECT source, seq_id, CAST(SUM(t) AS BIGINT)
               AS kept_tokens
             FROM c2fold WHERE doc_id IS NOT NULL GROUP BY 1, 2) o
           LEFT JOIN cs1 s ON o.source = s.source),
         crq AS (SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             str_split(source, ':')[2] AS source, seq_id, kept_tokens
           FROM cr0),
         c1q AS (SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             str_split(source, ':')[2] AS source, seq_id, kept_tokens
           FROM c10),
         c2q AS (SELECT CAST(str_split(source, ':')[1] AS BIGINT) AS phase,
             str_split(source, ':')[2] AS source, seq_id, kept_tokens
           FROM c20),
         ${mixtureBlockSqlFor("g0", "crq", "awout")},
         ${mixtureBlockSqlFor("g1", "c1q", "awout")},
         ${mixtureBlockSqlFor("g2", "c2q", "awout")},
         h0c AS (SELECT phase, source, COUNT(*) AS rc FROM g0sp
           GROUP BY 1, 2),
         h0t AS (SELECT COUNT(*) AS tc FROM g0sp),
         h1c AS (SELECT phase, source, SUM(rc) AS rc FROM (
             SELECT phase, source, COUNT(*) AS rc FROM g0sp GROUP BY 1, 2
             UNION ALL
             SELECT phase, source, COUNT(*) FROM g1sp GROUP BY 1, 2)
           GROUP BY 1, 2),
         h1t AS (SELECT (SELECT COUNT(*) FROM g0sp)
             + (SELECT COUNT(*) FROM g1sp) AS tc)
         SELECT CAST(p.phase_pos + o.poff AS BIGINT) AS global_pos,
           p.phase, p.source, p.seq_id, CAST(p.epoch AS BIGINT) AS epoch,
           CAST(p.src_pos AS BIGINT) AS src_pos, p.kept_tokens, p.draw,
           'released' AS origin
         FROM g0ps p JOIN g0o2 o ON o.phase = p.phase
         UNION ALL
         SELECT CAST(p.phase_pos + o.poff + tc AS BIGINT), p.phase,
           p.source, p.seq_id, CAST(p.epoch AS BIGINT),
           CAST(p.src_pos + COALESCE(rc, 0) AS BIGINT), p.kept_tokens,
           p.draw, 'append1'
         FROM g1ps p JOIN g1o2 o ON o.phase = p.phase
         LEFT JOIN h0c ON h0c.phase = p.phase AND h0c.source = p.source,
           h0t
         UNION ALL
         SELECT CAST(p.phase_pos + o.poff + tc AS BIGINT), p.phase,
           p.source, p.seq_id, CAST(p.epoch AS BIGINT),
           CAST(p.src_pos + COALESCE(rc, 0) AS BIGINT), p.kept_tokens,
           p.draw, 'append2'
         FROM g2ps p JOIN g2o2 o ON o.phase = p.phase
         LEFT JOIN h1c ON h1c.phase = p.phase AND h1c.source = p.source,
           h1t
         ORDER BY global_pos""",
    // the q243 scaffold with crank-aware candidates (keep = 16), the
    // identity trained codebook from residOpqSqlFor, one ADC frame
    // over all candidates, then each (n_probe, k_short) grid cell is
    // a (crank, rank) filter + its own exact re-rank + recall/cost
    "q251_ann_operating_grid" -> s"""
         WITH $anisoCtes,
         cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos),
         aposs AS (SELECT unnest(generate_series(0, 7)) AS pos),
         ${ivfPqTrainSqlFor("w7", "au")},
         rimap AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM adims),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM au
           WHERE vec_id < 50),
         qa16 AS (SELECT q_id, cell, cd, rn AS crank FROM (
           SELECT q_id, cell, list_inner_product(q_vec, cvec) AS cd,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY round(list_inner_product(q_vec, cvec), 6) DESC,
               cell) AS rn
           FROM qq, w7cent) t WHERE rn <= 16),
         qa AS (SELECT q_id, cell, cd FROM qa16 WHERE crank <= 4),
         prs AS (SELECT qa.q_id, qa.cd, ca.n_id
           FROM qa JOIN w7ca ca USING (cell) WHERE qa.q_id <> ca.n_id),
         prsw AS (SELECT qa16.q_id, qa16.cd, qa16.crank, ca.n_id
           FROM qa16 JOIN w7ca ca USING (cell)
           WHERE qa16.q_id <> ca.n_id),
         es AS (SELECT q.q_id, cc.vec_id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round(list_inner_product(q.q_vec, cc.vec), 6) DESC,
               cc.vec_id) AS rank
           FROM qq q, au cc WHERE q.q_id <> cc.vec_id),
         ex AS (SELECT q_id, n_id FROM es WHERE rank <= 3),
         ${residOpqSqlFor("ri", "rimap")},
         swtm AS (SELECT pr.q_id, pr.n_id, pr.cd, pr.crank, k.sub,
             list_inner_product(qs.sv, r.rvec) AS term
           FROM prsw pr
           JOIN ricode k ON k.vec_id = pr.n_id
           JOIN rirc r ON r.sub = k.sub AND r.c = k.c
           JOIN riqsv qs ON qs.q_id = pr.q_id AND qs.sub = k.sub),
         swadc AS (SELECT q_id, n_id, crank,
             MAX(cd) + ($pqTermPivot) AS adc
           FROM swtm GROUP BY q_id, n_id, crank),
         pgrid AS (SELECT unnest([1, 4, 16]) AS n_probe),
         kgrid AS (SELECT unnest([3, 10]) AS k_short),
         swrk AS (SELECT g.n_probe, a.q_id, a.n_id,
             ROW_NUMBER() OVER (PARTITION BY g.n_probe, a.q_id
               ORDER BY round(a.adc, 6) DESC, a.n_id) AS rank
           FROM pgrid g JOIN swadc a ON a.crank <= g.n_probe),
         swsh AS (SELECT r.n_probe, k.k_short, r.q_id, r.n_id
           FROM swrk r, kgrid k WHERE r.rank <= k.k_short),
         swip AS (SELECT s.n_probe, s.k_short, s.q_id, s.n_id,
             round(list_inner_product(q.q_vec, c.vec), 6) AS ip
           FROM swsh s JOIN qq q ON q.q_id = s.q_id
           JOIN au c ON c.vec_id = s.n_id),
         swtop AS (SELECT n_probe, k_short, q_id, n_id FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, k_short,
               q_id ORDER BY ip DESC, n_id) AS rr FROM swip) t
           WHERE rr <= 3),
         swne AS (SELECT n_probe, k_short,
             CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM swsh GROUP BY 1, 2),
         swnc AS (SELECT g.n_probe,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM pgrid g JOIN prsw p ON p.crank <= g.n_probe GROUP BY 1),
         swrec AS (SELECT g.n_probe, k.k_short,
             CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(t.n_id) AS BIGINT) AS n_found
           FROM pgrid g CROSS JOIN kgrid k CROSS JOIN ex e
           LEFT JOIN swtop t ON t.n_probe = g.n_probe
             AND t.k_short = k.k_short AND t.q_id = e.q_id
             AND t.n_id = e.n_id
           GROUP BY 1, 2)
         SELECT CAST(r.n_probe AS BIGINT) AS n_probe,
           CAST(r.k_short AS BIGINT) AS k_short,
           c.n_candidates, ne.n_exact, r.n_truth, r.n_found,
           CASE WHEN r.n_truth = 0 THEN 0.0
             ELSE round(CAST(r.n_found AS DOUBLE) / r.n_truth, 6) END
             AS recall_at_3
         FROM swrec r
         JOIN swnc c ON c.n_probe = r.n_probe
         JOIN swne ne ON ne.n_probe = r.n_probe
           AND ne.k_short = r.k_short
         ORDER BY n_probe, k_short""")

  /** The IVF-PQ residual TRAINING replay as oracle CTEs — one Lloyd
    * step on the coarse centroids over `$eSrc` (q74's step, re-listed
    * as `${px}cent`), the per-vector residual frame `${px}rv` against
    * those refined cells, and the one-Lloyd residual codebook
    * `${px}rcb` from the static init — [[ivfPqTrained]] mirrored
    * exactly (rounded-argmin/low-id ties, round-at-6 means). Shared
    * by q229 (trains on the full corpus) and q232 (trains on the
    * base slice only — the frozen-artifact maintenance gate), so the
    * two cannot desynchronize on a training detail. Requires `cent0`,
    * `pqc`, `poss`, and the `$eSrc` vectors CTE in scope.
    */
  private def ivfPqTrainSqlFor(px: String, eSrc: String): String = s"""
         ${px}ka AS (SELECT vec_id, vec, cell FROM (
           SELECT vec_id, vec, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM $eSrc, cent0) t WHERE rn = 1),
         ${px}kx AS (SELECT cell, vec, unnest(generate_series(1, 64)) AS i
           FROM ${px}ka),
         ${px}kc AS (SELECT cell, i, round(avg(vec[i]), 6) AS cv
           FROM ${px}kx GROUP BY cell, i),
         ${px}cent AS (SELECT cell, list(cv ORDER BY i) AS cvec
           FROM ${px}kc GROUP BY cell),
         ${px}ca AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM $eSrc e, ${px}cent c) t WHERE rn = 1),
         ${px}rv AS (SELECT n_id, cell, n_vec,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ${px}ca),
         ${px}rk0 AS (SELECT r.n_id, p.sub, p.c,
             round(list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(
                   list_slice(r.rvecd, p.sub * 8 + 1, p.sub * 8 + 8),
                   p.pvec), 6) AS key
           FROM ${px}rv r, pqc p),
         ${px}rcd0 AS (SELECT n_id, sub, c FROM (
           SELECT n_id, sub, c, ROW_NUMBER() OVER (PARTITION BY n_id, sub
             ORDER BY key, c) AS rn FROM ${px}rk0) t WHERE rn = 1),
         ${px}rref AS (SELECT k.sub, k.c, poss.pos,
             round(avg(r.rvecd[k.sub * 8 + poss.pos + 1]), 6) AS cv
           FROM ${px}rcd0 k JOIN ${px}rv r USING (n_id) CROSS JOIN poss
           GROUP BY 1, 2, 3),
         ${px}rcb AS (SELECT sub, c, list(cv ORDER BY pos) AS bvec
           FROM ${px}rref GROUP BY sub, c)"""

  /** One mixture-ordered BLOCK of the q241 append oracle — the q236
    * oracle body from the (phase, source, seq_id, kept_tokens) seq
    * CTE `$seqCte` to the ranked rows `${px}ps(phase, source, seq_id,
    * epoch, kept_tokens, draw, src_pos, phase_pos)` and the phase
    * offsets `${px}o2(phase, poff)`: the FROZEN fill `$fillCte`
    * replayed on the block's own counts (fe full passes + the
    * floor(round(frac·n_ps, 6)) partial), per-epoch seeded draws,
    * and the weighted closed-form rank in HUGEINT (the Spark side's
    * DECIMAL(38,0) twin). Factored so the released and appended
    * blocks of the append contract cannot desynchronize on a rule.
    */
  private def mixtureBlockSqlFor(px: String, seqCte: String,
      fillCte: String): String = s"""
         ${px}np AS (SELECT phase, source, COUNT(*) AS n_ps FROM $seqCte
           GROUP BY 1, 2),
         ${px}ep AS (SELECT phase, ${px}np.source,
             CAST(floor(final_epochs) AS BIGINT) AS fe,
             CAST(floor(round((final_epochs - floor(final_epochs))
               * CAST(n_ps AS DOUBLE), 6)) AS BIGINT) AS n_part
           FROM ${px}np JOIN $fillCte w ON w.lang = ${px}np.source),
         ${px}r0 AS (SELECT q.phase, q.source, q.seq_id, q.kept_tokens,
             unnest(generate_series(0, e.fe)) AS epoch, e.fe, e.n_part
           FROM $seqCte q JOIN ${px}ep e ON e.phase = q.phase
             AND e.source = q.source),
         ${px}dw AS (SELECT *, substr(md5('graft-order-v2' || ':'
             || CAST(epoch AS VARCHAR) || ':' || CAST(phase AS VARCHAR)
             || ':' || source || ':' || CAST(seq_id AS VARCHAR)), 1, 8)
             AS draw FROM ${px}r0),
         ${px}kp AS (SELECT * FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY phase, source, epoch
               ORDER BY draw, seq_id) AS er FROM ${px}dw) t
           WHERE epoch < fe OR er <= n_part),
         ${px}sp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY phase, source
             ORDER BY epoch, draw, seq_id) - 1 AS src_pos FROM ${px}kp),
         ${px}sn AS (SELECT phase, source, COUNT(*) AS n FROM ${px}sp
           GROUP BY 1, 2),
         ${px}ps AS (SELECT r.phase, r.source, r.seq_id, r.epoch,
             r.kept_tokens, r.draw, r.src_pos,
             SUM(LEAST((CAST(r.src_pos + 1 AS HUGEINT) * s.n - 1) // rn.n,
                 s.n)
               + CASE WHEN s.source < r.source
                   AND (CAST(r.src_pos + 1 AS HUGEINT) * s.n) % rn.n = 0
                 THEN 1 ELSE 0 END) AS phase_pos
           FROM ${px}sp r
           JOIN ${px}sn rn ON rn.phase = r.phase AND rn.source = r.source
           JOIN ${px}sn s ON s.phase = r.phase
           GROUP BY r.phase, r.source, r.seq_id, r.epoch, r.kept_tokens,
             r.draw, r.src_pos),
         ${px}o1 AS (SELECT phase, SUM(n) AS np FROM ${px}sn GROUP BY 1),
         ${px}o2 AS (SELECT phase, COALESCE(SUM(np) OVER (ORDER BY phase
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS poff FROM ${px}o1)"""

  /** The exact water-fill as oracle CTEs ending in `${px}out(lang,
    * n_tokens, w_a07, final_alloc, final_epochs, capped)` — the q228
    * window pass at the fixed 3.875× budget over the `docWhere` slice
    * of documents, shared by q231's two release legs so the chain and
    * the single-corpus card cannot desynchronize on the fill rule.
    */
  private def waterFillSqlFor(px: String, docWhere: String,
      keyCol: String = "lang", budgetX: String = "3.875"): String = s"""
         ${px}lt AS (SELECT $keyCol AS lang,
             CAST(len(${duckToks("text")}) AS BIGINT) AS nt
           FROM documents WHERE $docWhere),
         ${px}pl AS (SELECT lang, SUM(nt) AS n_tokens FROM ${px}lt
           GROUP BY 1 HAVING SUM(nt) > 0),
         ${px}tz AS (SELECT SUM(n_tokens) AS tot,
           SUM(power(CAST(n_tokens AS DOUBLE), 0.7)) AS z07 FROM ${px}pl),
         ${px}st AS (SELECT lang, n_tokens,
             CAST(n_tokens AS DOUBLE) AS ntd,
             power(CAST(n_tokens AS DOUBLE), 0.7) / z07 AS w,
             $budgetX * CAST(tot AS DOUBLE) AS b,
             CAST(n_tokens AS DOUBLE) * 4.0 AS cap
           FROM ${px}pl, ${px}tz),
         ${px}cm AS (SELECT *, w * b AS a0,
             COALESCE(SUM(cap) OVER (ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS cprev,
             COALESCE(SUM(w) OVER (ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS wprev
           FROM ${px}st),
         ${px}cd AS (SELECT *, CASE WHEN w * (b - cprev) >= cap * (1.0 - wprev)
             THEN 1 ELSE 0 END AS cnd FROM ${px}cm),
         ${px}cp AS (SELECT *, MIN(cnd) OVER (ORDER BY n_tokens, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
             AS is_capped FROM ${px}cd),
         ${px}ag AS (SELECT
             COALESCE(SUM(CASE WHEN is_capped THEN cap END), 0.0) AS ck,
             SUM(CASE WHEN NOT is_capped THEN w END) AS wu FROM ${px}cp),
         ${px}out AS (SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
             round(w, 6) AS w_a07,
             round(CASE WHEN is_capped THEN cap
               ELSE w * (b - ck) / wu END, 2) AS final_alloc,
             round(CASE WHEN is_capped THEN cap
               ELSE w * (b - ck) / wu END / ntd, 6) AS final_epochs,
             CAST(CASE WHEN is_capped THEN 1 ELSE 0 END AS BIGINT) AS capped
           FROM ${px}cp, ${px}ag)"""

  /** The q108 frozen-logistic score as oracle CTEs ending in
    * `sc(doc_id, source, quality_score)` — the SQL twin of
    * [[docQuality]], shared by the q108 gate and the q205 DoReMi step
    * so the two cannot desynchronize on a coefficient.
    */
  /** The contamination-velocity oracle shared VERBATIM by q207 (the
    * batch card) and q227 (the streaming monitor): flag counts are
    * additive per ingest batch, so the stream must reproduce the
    * batch card exactly.
    */
  private lazy val contaminationVelocitySql: String = s"""
         WITH w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM w WHERE len(words) >= 8),
         g AS (SELECT DISTINCT doc_id,
             substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16) AS gh
           FROM gp),
         held AS (SELECT DISTINCT gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
         train AS (SELECT doc_id, gh FROM g
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
           FROM train JOIN held USING (gh) GROUP BY doc_id),
         bt AS (SELECT doc_id,
             CAST(((strpos('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 4)
               AS BIGINT) AS batch_id
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0')
         SELECT bt.batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(pd.shared_grams) AS BIGINT) AS n_flagged,
           round(CAST(COUNT(pd.shared_grams) AS DOUBLE) / COUNT(*), 6)
             AS flag_rate,
           CAST(COALESCE(SUM(pd.shared_grams), 0) AS BIGINT)
             AS n_shared_grams
         FROM bt LEFT JOIN pd USING (doc_id)
         GROUP BY 1 ORDER BY 1"""

  /** The quota-sample oracle shared VERBATIM by q211 (the batch card)
    * and q224 (the streaming reservoir): per-cell min-8-by-content-hash
    * is a mergeable sketch, so the stream must reproduce the batch
    * card exactly under any batch membership.
    */
  private lazy val quotaSampleSql: String = s"""
         WITH qdt AS (SELECT doc_id, lang, source,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         qrk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM qdt)
         SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_eligible,
           CAST(SUM(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_taken,
           round(CAST(SUM(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS coverage,
           CAST(COALESCE(SUM(CASE WHEN rn <= 8 THEN n_tokens END), 0)
             AS BIGINT) AS sample_tokens,
           substr(md5(string_agg(CASE WHEN rn <= 8
               THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY doc_id)),
             1, 16) AS sample_fp
         FROM qrk GROUP BY 1, 2 ORDER BY 1, 2"""

  /** The packing-chain oracle shared VERBATIM by q221 (the batch
    * chain) and q225 (the streaming packing twin) - one SQL so the
    * stream is gated as value-identical to the chained batch folds.
    */
  private lazy val packingChainSql: String = s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("pb", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             NOT IN ('0', '1', '2')""")},
         ${ffdFoldSqlFor("pi", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2')
             AND substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)
               IN ('0', '1', '2', '3', '4', '5', '6', '7')""")},
         ${ffdFoldSqlFor("pj", s"""SELECT doc_id, source,
             CAST(len($duckNormWords) AS BIGINT) AS n_tokens
           FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2')
             AND substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)
               NOT IN ('0', '1', '2', '3', '4', '5', '6', '7')""")},
         cs1 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM pbfold
           WHERE doc_id IS NOT NULL GROUP BY 1),
         cd1 AS (SELECT d.doc_id, d.source, d.n_tokens,
             d.seq_id + COALESCE(b.s0, 0) AS seq_id, d.off, d.t
           FROM pifold d LEFT JOIN cs1 b USING (source)
           WHERE d.doc_id IS NOT NULL),
         cs2 AS (SELECT source, MAX(seq_id) + 1 AS s0 FROM (
             SELECT source, seq_id FROM pbfold WHERE doc_id IS NOT NULL
             UNION ALL SELECT source, seq_id FROM cd1) u GROUP BY 1),
         cd2 AS (SELECT d.doc_id, d.source, d.n_tokens,
             d.seq_id + COALESCE(b.s0, 0) AS seq_id, d.off, d.t
           FROM pjfold d LEFT JOIN cs2 b USING (source)
           WHERE d.doc_id IS NOT NULL)
         SELECT doc_id, source, n_tokens, seq_id, off AS offset_in_seq,
           t AS n_kept, n_tokens - t AS n_dropped, 'base' AS origin
         FROM pbfold WHERE doc_id IS NOT NULL
         UNION ALL
         SELECT doc_id, source, n_tokens, seq_id, off, t, n_tokens - t,
           'ingest1' FROM cd1
         UNION ALL
         SELECT doc_id, source, n_tokens, seq_id, off, t, n_tokens - t,
           'ingest2' FROM cd2
         ORDER BY doc_id"""

  /** The chained-DoReMi oracle shared VERBATIM by q212 (the batch
    * chain) and q214 (the streaming maintenance twin) — one SQL so the
    * stream is gated as value-identical to the batch chain, the q162/
    * q179 discipline applied to the mixture-weights artifact.
    */
  private lazy val doremiChainSql: String = s"""
         WITH $duckQualityCtes,
         dbq AS (SELECT sc.doc_id, source, quality_score,
             CAST(((strpos('0123456789abcdef',
               substr(md5(CAST(sc.doc_id AS VARCHAR)), 1, 1)) - 1) % 3)
               AS BIGINT) AS batch
           FROM sc),
         dpv AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(AVG(CASE WHEN batch = 0 THEN quality_score END), 6) AS m0,
             round(AVG(CASE WHEN batch = 1 THEN quality_score END), 6) AS m1,
             round(AVG(CASE WHEN batch = 2 THEN quality_score END), 6) AS m2
           FROM dbq GROUP BY 1),
         dmx AS (SELECT MAX(m0) AS x0, MAX(m1) AS x1, MAX(m2) AS x2,
           SUM(n_docs) AS tot FROM dpv),
         ds0 AS (SELECT source, n_docs, m0, m1, m2,
             CAST(n_docs AS DOUBLE) / tot AS w0,
             COALESCE(round(x0 - m0, 6), 0) AS e0,
             COALESCE(round(x1 - m1, 6), 0) AS e1,
             COALESCE(round(x2 - m2, 6), 0) AS e2
           FROM dpv, dmx),
         dg1 AS (SELECT *, w0 * exp(e0) AS g1 FROM ds0),
         dz1 AS (SELECT SUM(g1) AS z1 FROM dg1),
         dw1 AS (SELECT dg1.*, g1 / z1 AS w1 FROM dg1, dz1),
         dg2 AS (SELECT *, w1 * exp(e1) AS g2 FROM dw1),
         dz2 AS (SELECT SUM(g2) AS z2 FROM dg2),
         dw2 AS (SELECT dg2.*, g2 / z2 AS w2 FROM dg2, dz2),
         dg3 AS (SELECT *, w2 * exp(e2) AS g3 FROM dw2),
         dz3 AS (SELECT SUM(g3) AS z3 FROM dg3),
         dw3 AS (SELECT dg3.*, g3 / z3 AS w3 FROM dg3, dz3)
         SELECT source, n_docs, m0, m1, m2,
           round(w0, 6) AS w0, round(w1, 6) AS w1,
           round(w2, 6) AS w2, round(w3, 6) AS w3,
           round(w3 / w0, 6) AS boost
         FROM dw3 ORDER BY source"""

  private lazy val duckQualityCtes: String = s"""
         t AS (SELECT doc_id, source, text, ${duckToks("text")} AS toks
           FROM documents),
         f AS (SELECT doc_id, source,
             CAST(len(toks) AS DOUBLE) AS n_words,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mwl,
             CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE) AS punct,
             CAST(len(list_filter(toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stop
           FROM t),
         z AS (SELECT doc_id, source, 0.5 + 4.0 * stop - 6.0 * punct
             - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words) AS zz FROM f),
         sc AS (SELECT doc_id, source,
           round(1.0 / (1.0 + exp(-zz)), 6) AS quality_score FROM z)"""

  /** Power-of-two power as an explicit squaring chain —
    * `((x*x)*(x*x))…` — the DuckDB mirror of q202's Spark-side
    * `powChain`: both engines then evaluate the IDENTICAL sequence of
    * IEEE multiplications, where `pow()` would bet the hash gate on
    * two libm implementations agreeing to the last ulp.
    */
  private def duckPowChain(base: String, e: Int): String = {
    require(e > 0 && (e & (e - 1)) == 0, s"power-of-two exponent: $e")
    Iterator.iterate(base)(x => s"($x*$x)")
      .drop(Integer.numberOfTrailingZeros(e)).next()
  }

  /** The q201/q202 banding-sweep oracle WITH-body: the shared
    * nibble-minima pivot (`swpiv`), the shared 3-gram truth side
    * (`swg`/`swtruth`), and one [[bandSweepSqlFor]] leg per
    * rows-per-band — factored so the sweep row (q201) and the
    * operating-point card (q202) cannot desynchronize.
    */
  private lazy val bandSweepOracleCtes: String = {
    val cols = "0123456789abcdef".zipWithIndex.map { case (h, i) =>
      s"MIN(minhash) FILTER (band = '$h') AS b$i"
    }.mkString(", ")
    s"""swpos AS (SELECT doc_id, text,
             unnest(generate_series(1, greatest(len(text) - 7, 1))) AS i
           FROM documents),
         swsh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS shingle
           FROM swpos),
         swsig AS (SELECT doc_id, substr(md5(shingle), 1, 1) AS band,
           MIN(md5(shingle)) AS minhash FROM swsh GROUP BY 1, 2),
         swpiv AS (SELECT doc_id, $cols FROM swsig GROUP BY doc_id),
         swgpos AS (SELECT doc_id, substr(text, 1, 120) AS pre,
             unnest(generate_series(1,
               greatest(len(substr(text, 1, 120)) - 2, 1))) AS i
           FROM documents),
         swg AS (SELECT doc_id, list(DISTINCT substr(pre, i, 3)) AS grams
           FROM swgpos GROUP BY 1),
         swtruth AS (SELECT gq.doc_id AS q_id, go.doc_id AS n_id
           FROM swg gq JOIN swg go
             ON gq.doc_id % 29 = 0 AND go.doc_id <> gq.doc_id
           WHERE CAST(len(list_intersect(gq.grams, go.grams)) AS DOUBLE) /
             CAST(len(gq.grams) + len(go.grams)
               - len(list_intersect(gq.grams, go.grams)) AS DOUBLE) >= 0.5),
         ${Seq(1, 2, 4).map(r => bandSweepSqlFor(s"sw$r", r)).mkString(",")}"""
  }

  private lazy val incrementalSpanSql: String = s"""
         WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         sd AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') THEN 'delta' ELSE 'base' END AS side
           FROM documents),
         pn AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM tk),
         sp AS (SELECT doc_id, i AS span_idx,
             substr(md5(array_to_string(toks[i*8+1 : i*8+8], ' ')), 1, 16) AS k
           FROM (SELECT doc_id, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM pn WHERE n_spans >= 1)),
         bk AS (SELECT DISTINCT k FROM sp JOIN sd USING (doc_id)
           WHERE sd.side = 'base'),
         dsp AS (SELECT sp.doc_id, sp.span_idx, sp.k
           FROM sp JOIN sd USING (doc_id) WHERE sd.side = 'delta'),
         kp AS (SELECT doc_id, k, ROW_NUMBER() OVER (PARTITION BY k
             ORDER BY doc_id, span_idx) AS rn
           FROM (SELECT dsp.* FROM dsp LEFT JOIN bk ON dsp.k = bk.k
             WHERE bk.k IS NULL) x),
         cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM kp WHERE rn = 1 GROUP BY 1)
         SELECT pn.doc_id, pn.n_spans,
           COALESCE(cnt.n_kept, 0) AS n_kept,
           round(CAST(COALESCE(cnt.n_kept, 0) AS DOUBLE) / pn.n_spans, 6)
             AS keep_frac
         FROM pn JOIN sd USING (doc_id) LEFT JOIN cnt ON pn.doc_id = cnt.doc_id
         WHERE sd.side = 'delta' AND pn.n_spans >= 1
         ORDER BY pn.doc_id"""
}
