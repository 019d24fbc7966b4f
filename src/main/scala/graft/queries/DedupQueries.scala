package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis => TA}
import graft.streaming.Streaming
import graft.util.Tables

import Fragments._

/** Dedup family: exact, MinHash/LSH, SimHash, span, containment and
  * semantic near-duplicate detection, their incremental and streaming
  * maintenance twins, and the detectors' evaluation reports.
  */
object DedupQueries extends QueryFamily {
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

  /** q175's deliberately skewed signature table: text replaced by
    * [[boilerplateText]] where the doc_id's md5 head is 0–7 (half the
    * corpus), then the production [[Dedup.bandedSignatures]] — every
    * band's boilerplate bucket holds ~n/2 docs, far over a cap of 100
    * at every fixture scale.
    */
  private[graft] def skewedSig(s: SparkSession, d: String): DataFrame =
    Dedup.bandedSignatures(stampedDocs(s, d), "text", "doc_id", k = 8)

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
          when(isDeltaDoc(col("doc_id")), lit("delta")).otherwise(lit("base")))
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
      val baseCnt = v1SimhashCountArtifact(s, d)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q123_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q123_ssimhash_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        Streaming.writeBatch(streamBatchSimhash(batch, baseSig,
          baseCounts = Some(baseCnt)), id, out, append = true)
      }
      s.read.parquet(out)
        .select(col("delta_id"), col("base_id"), col("hamming"))
        .orderBy(col("delta_id"), col("base_id"))
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
      val baseCnt = v1SigCountArtifact(s, d)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q115_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q115_sdedup_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        Streaming.writeBatch(streamBatchCandidates(batch, baseSig,
          baseCounts = Some(baseCnt)), id, out, append = true)
      }
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
        baseCounts = Some(v1SigCountArtifact(s, d)))
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
        baseCounts = Some(v1SigCountArtifact(s, d)))
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
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        Streaming.writeBatch(
          Dedup.bandedSignatures(batch, "text", "doc_id", k = 8),
          id, sigRoot, append = true)
        val bSig = s.read.parquet(s"$sigRoot/batch_id=$id")
        val priorSig =
          if (id == 0L) baseSig
          else baseSig.unionByName(s.read.parquet(sigRoot)
            .filter(col("batch_id") < id).drop("batch_id"))
        val prevLab =
          if (id == 0L) baseLab
          else s.read.parquet(s"$labRoot/batch_id=${id - 1}")
        Streaming.writeBatch(
          streamBatchClusterMerge(bSig, priorSig, prevLab,
            batch.select(col("doc_id"))),
          id, labRoot, append = true)
      }
      val versions = s.read.parquet(labRoot)
      versions
        .join(broadcast(versions.agg(max(col("batch_id")).as("m"))),
          col("batch_id") === col("m"))
        .select(col("doc_id"), col("lab").as("cluster_id"),
          when(isDeltaDoc(col("doc_id")), lit("delta"))
            .otherwise(lit("base")).as("src"))
        .orderBy(col("doc_id"))
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
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        val prev =
          if (id == 0L) None
          else Some(s.read.parquet(s"$ownRoot/batch_id=${id - 1}"))
        Streaming.writeBatch(
          streamBatchSpanOwners(batch, baseOwn, prev),
          id, ownRoot, append = true)
      }
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
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 2) { (batch, id) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val m = gramStream(batch)
          .select(col("gh")).as[String].select(mg.toColumn).collect()(0)
        Streaming.writeBatch(m.toSeq.toDF("gh", "est"), id, out, append = true)
      }
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

    "q160_stream_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val baseDocs = docs.filter(!isDeltaDoc(col("doc_id")))
      val baseSig = v1SigArtifact(s, d)
      val baseCnt = v1SigCountArtifact(s, d)
      val delta = docs.filter(isDeltaDoc(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val in = CoreQueries.sharedInputDir(
        s"graft_q160_in_${CoreQueries.dirToken(d)}") { p =>
        delta.repartition(4).write.mode("overwrite").parquet(p)
      }
      val dir = CoreQueries.tempQueryDir("graft_q160_scont_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        // capture the batch's cached candidate frame and drop it
        // once the append action completes (ADVICE r10: without
        // this, one cached frame per micro-batch accumulates
        // across batches and repeated bench runs in one session)
        var cached: Option[DataFrame] = None
        try Streaming.writeBatch(
          streamBatchContainment(batch, baseSig, baseDocs,
            baseCounts = Some(baseCnt),
            onPersist = f => cached = Some(f)), id, out, append = true)
        finally cached.foreach(_.unpersist())
      }
      s.read.parquet(out)
        .select(col("delta_id"), col("base_id"), col("n_common"),
          col("jaccard"), col("cont_delta"), col("cont_base"))
        .orderBy(col("delta_id"), col("base_id"))
    }),

    // ---- the LSH BANDING sweep — the missing knob in the calibration
    //      set (q102 precision, q114 recall, q118 tau, q121 nProbe,
    //      q126 merges, q116 threshold): the (b, r) S-curve itself.
    //      One row per rows-per-band r ∈ {1, 2, 4} over the SAME 16
    //      nibble minima ([[Dedup.bandedSignaturesFromMinima]]):
    //      candidate pair count, precision against the 3-gram-Jaccard
    //      ≥ 0.5 verify
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
    }))

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

  /** One rows-per-band leg of the q201 banding-sweep oracle: band keys
    * over the shared `swpiv` nibble-minima pivot (NULL propagates
    * through `||`, mirroring [[graft.ext.Dedup.bandedSignaturesFromMinima]]'s
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
         ${px}cand AS (${lshPairsSql(px = px)}),
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
         hhp AS (${gramPosSql("hhw")}),
         hhg AS (SELECT
             $duckGramHash AS gh
           FROM hhp),
         hht AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hhg),
         hhc AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM hhg GROUP BY gh)
         SELECT gh, cnt, round(cnt * 1.0 / n, 6) AS share
         FROM hhc CROSS JOIN hht WHERE cnt * 100 >= n ORDER BY gh"""

  /** 16-term SimHash oracle is generated programmatically. */
  private val simhashTerms: String = (0 until 16).map { j =>
    s"""CASE WHEN 2 * len(list_filter(toks, t ->
       list_contains(['1','3','5','7','9','b','d','f'], substr(md5(t), ${j + 1}, 1))))
       > len(toks) THEN ${1L << j} ELSE 0 END""".replaceAll("\n\\s*", " ")
  }.mkString(" + ")

  /** Shared q91/q95 oracle: banded-signature candidates (>=2 bands),
    * cross-side (md5-split delta-vs-base) pairs only. q95 differs from
    * q91 only in WHERE the base-side signatures come from (a persisted
    * parquet signature table vs recompute), which must not change the
    * values — one SQL pins both.
    */
  private lazy val incrementalDedupSql: String = s"""
         WITH $bandedSigSql,
         cand AS (${lshPairsSql(2, ", COUNT(*) AS n_bands")}),
         sd AS (SELECT doc_id,
             CASE WHEN ${duckDelta("doc_id")}
               THEN 'delta' ELSE 'base' END AS side FROM documents)
         SELECT CASE WHEN sa.side = 'delta' THEN c.a_id ELSE c.b_id END AS delta_id,
           CASE WHEN sa.side = 'delta' THEN c.b_id ELSE c.a_id END AS base_id,
           n_bands
         FROM cand c JOIN sd sa ON c.a_id = sa.doc_id
           JOIN sd sb ON c.b_id = sb.doc_id
         WHERE sa.side <> sb.side
         ORDER BY delta_id, base_id"""

  /** The q158/q160 shared oracle: cross-side (delta×base) LSH
    * candidate pairs rescored with directed containment — one SQL pins
    * both the batch incremental path and the streaming path (q148/q149's
    * proof pattern: the shared green row IS the value-identity claim).
    */
  private lazy val incrementalContainmentSql: String = s"""
         WITH $bandedSigSql,
         sd AS (SELECT doc_id,
             CASE WHEN ${duckDelta("doc_id")} THEN 'delta' ELSE 'base' END AS side
           FROM documents),
         cand0 AS (${lshPairsSql(2)}),
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

  private lazy val semanticPairCtes: String = semanticPairCtesFor("", "TRUE")

  /** The SimHash64 banded-candidate oracle CTE chain (tokens ->
    * 64-bit fingerprint -> 4x16-bit pigeonhole bands -> capped bucket
    * join -> >= 3-band pairs with fingerprints), shared verbatim by
    * the q85 detector, the q113/q117 drop sets (x-prefixed), and
    * q123's streaming twin. `p` prefixes every CTE name so two
    * instantiations can coexist in one WITH clause.
    */
  private def simhashCandCtes(p: String): String =
    simhashCandCtesFor(p, "TRUE")

  /** The q113/q117 shared oracle CTE chain: all four detector drop
    * sets re-derived from the detectors' own fragments, ending in
    * `drops(det, doc_id)`.
    */
  private lazy val dedupDropsCtes: String =
    dedupDropsCtesFor("", "TRUE", "TRUE")

  val oracleSql: Map[String, String] = Map(
    "q21_dedup_exact" ->
      """SELECT md5(lower(substr(text, 1, 40))) AS content_hash,
         MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "q22_minhash_candidates" -> s"""
         WITH $bandedSigSql
         ${lshPairsSql(2, ", COUNT(*) AS n_bands")} ORDER BY a_id, b_id""",
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
             CASE WHEN ${duckDelta("doc_id")}
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
    "q102_lsh_precision" -> (s"""
         WITH $bandedSigSql,
         cand AS (${lshPairsSql(cols = ", CAST(COUNT(*) AS BIGINT) AS n_bands")}),""" + """
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
    "q89_semantic_clusters" -> s"""
         WITH RECURSIVE $semanticPairCtes,
         sel AS (SELECT kept_id, dropped_id FROM ev WHERE rn = 1),
         ${reachSql("sel", "kept_id", "dropped_id")}
         SELECT id AS vec_id, MIN(comp) AS cluster_id
         FROM reach GROUP BY id ORDER BY vec_id""",
    "q24_ngram_dedup" -> (s"""
         WITH $bandedSigSql,
         cand AS (${lshPairsSql()}),""" + """
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
    "q45_dedup_clusters" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")}
         SELECT id AS doc_id, MIN(comp) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",
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
    "q109_cluster_survivor" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
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
         cpair AS (${lshPairsSql(2)}),
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
    // incremental cluster maintenance must be value-identical to a
    // FULL from-scratch CC over the whole corpus' candidate graph
    // (q45's recursive oracle, extended to label every doc)
    "q141_incremental_clusters" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN ${duckDelta("d.doc_id")}
                THEN 'delta' ELSE 'base' END AS src
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    // the two-run chained maintenance must ALSO equal the one-shot
    // whole-corpus rebuild (merge associativity across runs)
    "q142_cluster_ingest_chain" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN ${duckDelta("d.doc_id")}
                THEN CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)
                       IN ('0', '1', '2', '3', '4', '5', '6', '7')
                     THEN 'delta1' ELSE 'delta2' END
                ELSE 'base' END AS src
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    "q143_cluster_purity" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
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
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
         comp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
           CASE WHEN ${duckDelta("d.doc_id")}
                THEN 'delta' ELSE 'base' END AS src
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    "q148_incremental_spans" -> incrementalSpanSql,
    // the streaming min-merged owner table must equal the batch
    // incremental rule (one oracle pins both — order-independence of
    // the min-merge IS the claim)
    "q149_stream_spans" -> incrementalSpanSql,
    "q156_containment_dedup" -> s"""
         WITH $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
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
    "q158_incremental_containment" -> incrementalContainmentSql,
    // the streaming min-batched containment path must equal the batch
    // incremental rule — one oracle pins both (q149/q148's pattern)
    "q160_stream_containment" -> incrementalContainmentSql,
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
    // heavy hitters: the oracle is the EXACT set (share >= 1%) over the
    // stamped corpus's positional gram stream — the sketch's guarantee
    // + exact re-score must land exactly this, any merge order
    "q186_heavy_hitters" -> hhExactSql,
    // streaming heavy hitters: q186's oracle VERBATIM — the guarantee
    // makes the streamed sketch land the identical exact set
    "q190_stream_heavy_hitters" -> hhExactSql,
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
         cand AS (${lshPairsSql(2)}),
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
         FROM sp JOIN ct USING (k) GROUP BY sp.doc_id ORDER BY sp.doc_id""")

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
             CASE WHEN ${duckDelta("doc_id")} THEN 'delta' ELSE 'base' END AS side
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
