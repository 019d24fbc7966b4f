package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis => TA}
import graft.streaming.Streaming
import graft.util.Tables

import Artifacts._
import Fragments._

/** Curation family: decontamination, the per-doc release ledger and
  * its maintenance, and release reports.
  */
object CurationQueries extends QueryFamily {
  /** The q59/q84 decontamination gram projection: per-doc distinct
    * word-8-gram md5 prefixes plus the [[isHeldOut]] split flag.
    * Shared so the twin paths (exact broadcast join vs Bloom prefilter)
    * cannot silently desynchronize on the split rule or gram width.
    */
  private def splitGrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        isHeldOut(col("doc_id")).as("held"),
        explode(TA.wordGramHashes(col("text"), 8)).as("gh"))

  /** The decontamination held-out split: docs whose md5 head nibble is
    * '0'. The train split is its complement.
    */
  private def isHeldOut(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1) === "0"

  /** [[isHeldOut]] in DuckDB, for the doc id expression `id`. */
  private def duckHeldOut(id: String): String =
    s"(substr(md5(CAST($id AS VARCHAR)), 1, 1) = '0')"

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
        isHeldOut(col("doc_id")).as("held"),
        TA.wsTokens(col("text")).as("toks"),
        TA.wsTokens(lower(col("text"))).as("ltoks"))
      .select(col("doc_id"), col("source"), col("lang"), col("held"),
        size(col("toks")).cast("long").as("n_words"),
        round(TA.meanWordLenFromTokens(col("toks")), 6).as("mwl"),
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
        isHeldOut(col("doc_id")).as("held"),
        explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
    val held = grams.filter(col("held")).select(col("gh")).distinct()
    val contam = grams.filter(!col("held"))
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
        when(col("held"), "heldout")
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

  /** The v1 release's four-family drop sets, persisted (q167/q168). */
  private def v1DropsArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "dropsv1", Some(1))(dropSetsRecomputeFrom(
      Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))),
      v1SigArtifact(s, d),
      Tables.embeddings(s, d).filter(!isDeltaDoc(col("vec_id")))))

  /** The v1 release's containment pairs, persisted (q167/q168). */
  private def v1PairsArtifact(s: SparkSession, d: String): DataFrame = {
    val dir = sharedInputDir(d, "contpv1") { p =>
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
    Tables.parquet(s, dir)
  }

  /** The v1 release LEDGER as a persisted artifact — what a real v1
    * build ships; q167 diffs against it, q168 maintains FROM it. */
  private def v1ReleaseLedger(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "ledgv1", Some(1))(curatedLedger(
      Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))),
      v1DropsArtifact(s, d), v1PairsArtifact(s, d)))

  /** The CURRENT (v2) release ledger as a persisted artifact —
    * [[v1ReleaseLedger]]'s full-corpus twin (ADVICE r11): the ledger a
    * release SHIPS is written once, and every downstream report (q162,
    * q167's v2 side, q169's funnel, the round-12 two-key funnel) SCANS
    * it instead of re-running the quality scan + corpus-wide
    * decontamination gram pass per query. Value-identity with the
    * recompute is inherent (write + read-back) and q162's unchanged
    * DuckDB oracle gates it.
    */
  private def v2ReleaseLedger(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "ledgv2", Some(1))(curatedLedger(Tables.documents(s, d),
      dedupDropSets(s, d), containmentPairs(s, d)))

  /** The v1 release's span-owner table — (k, doc_id, span_idx), the
    * min-(doc_id, span_idx) owner of every base span key (q148's rule;
    * q168/q171's maintenance input). */
  private def v1SpanOwnerArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "spownv1")(minOwners(
      spanFrame(Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))))))

  /** The v1 release's per-doc span counts — (doc_id, n_spans), the
    * denominator of the span verdict (q168/q171). */
  private def v1SpanCountArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "spcntv1")(
      spanFrame(Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))))
        .groupBy(col("doc_id")).agg(max(col("n_spans")).as("n_spans")))

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
  private def v1Artifacts(s: SparkSession, d: String): RelArtifacts =
    RelArtifacts(
      sig = v1SigArtifact(s, d),
      sigCnt = v1SigCountArtifact(s, d),
      shSig = v1SimhashSigArtifact(s, d),
      shCnt = v1SimhashCountArtifact(s, d),
      cellIdx = v1CellIndexArtifact(s, d),
      cellCnt = v1CellCountArtifact(s, d),
      spanOwn = v1SpanOwnerArtifact(s, d),
      spanCnt = v1SpanCountArtifact(s, d),
      drops = v1DropsArtifact(s, d),
      pairs = v1PairsArtifact(s, d),
      ledger = v1ReleaseLedger(s, d))

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
  private def ledgerMaintainStep(prior: RelArtifacts, delta: DataFrame,
      deltaEmb: DataFrame, corpus: DataFrame, priorDocs: DataFrame,
      onPersist: DataFrame => Unit,
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
    val spanOwn2 = graft.util.Persist(
      minOwners(prior.spanOwn.unionByName(minOwners(deltaSpan))))
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
        round(TA.meanWordLenFromTokens(col("toks")), 6).as("mwl"),
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
      .withColumn("held", isHeldOut(col("doc_id")))
    // ---- decontamination: the one corpus-wide pass (new held set) ----
    val grams = corpus.select(col("doc_id"),
      isHeldOut(col("doc_id")).as("held"),
      explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
    val held = grams.filter(col("held")).select(col("gh")).distinct()
    val train = grams.filter(!col("held"))
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
        when(col("held"), "heldout")
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
  private def maintainedArtifacts(s: SparkSession, d: String, name: String,
      prior: => RelArtifacts, delta: DataFrame, deltaEmb: DataFrame,
      corpus: DataFrame, priorDocs: DataFrame): RelArtifacts =
    readBundle(s, sharedInputDir(d, name) { p =>
      var cached = List.empty[DataFrame]
      writeBundle(ledgerMaintainStep(prior, delta, deltaEmb, corpus,
        priorDocs, onPersist = f => cached ::= f), p)
      cached.foreach(_.unpersist())
    })

  /** The bundle's member directory names, in [[RelArtifacts]] order. */
  private val bundleNames = Seq("sig", "sigcnt", "shsig", "shcnt", "cellidx",
    "cellcnt", "spanown", "spancnt", "drops", "pairs", "ledger")

  /** Writes `a` under `root`, one directory per member. The eleven
    * writes are independent jobs to distinct directories, so they are
    * submitted concurrently (guide §2.6; round 19): a step's persisted
    * delta frames are shared, the first job touching one materializes
    * it and later jobs read the cache.
    */
  private def writeBundle(a: RelArtifacts, root: String): Unit =
    graft.util.ParallelWrite.run(bundleNames.zip(Seq(a.sig, a.sigCnt,
        a.shSig, a.shCnt, a.cellIdx, a.cellCnt, a.spanOwn, a.spanCnt,
        a.drops, a.pairs, a.ledger))
      .map { case (n, df) => () =>
        df.write.mode("overwrite").parquet(s"$root/$n") })

  /** The bundle written under `root`. */
  private def readBundle(s: SparkSession, root: String): RelArtifacts = {
    val m = bundleNames.map(n => Tables.parquet(s, s"$root/$n"))
    RelArtifacts(m(0), m(1), m(2), m(3), m(4), m(5), m(6), m(7), m(8),
      m(9), m(10))
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
  private def appendMaintainedArtifacts(s: SparkSession, d: String, name: String,
      prior: => RelArtifacts, delta: DataFrame, deltaEmb: DataFrame,
      corpus: DataFrame, priorDocs: DataFrame): RelArtifacts = {
    val dir = sharedInputDir(d, name) { p =>
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
    val b = readBundle(s, dir)
    // compact-on-read: min-merge the appended owner claims
    b.copy(spanOwn = minOwners(b.spanOwn))
  }

  /** The v2 release built by MAINTENANCE over the full delta,
    * materialized — the bundle q168's step actually ships. The
    * maintained-corpus reports (q172 card, q173 diff) consume THIS
    * ledger's kept set, not the rebuild's; their rebuild-derived
    * oracles then re-gate maintained ≡ rebuilt at the report level.
    */
  private def maintainedRelease(s: SparkSession, d: String): RelArtifacts = {
    val docs = Tables.documents(s, d)
    maintainedArtifacts(s, d, "mntv2", v1Artifacts(s, d), docs.filter(isDeltaDoc(col("doc_id"))),
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
      isHeldOut(col("doc_id")).as("held"),
      TA.normWords(col("text")).as("w"))
    val held = splitGrams(s, d).filter(col("held"))
      .select(col("gh")).distinct()
    // three consumers (leaked, kept, out); registered with the step
    // cache so the next maintenance-class build drains it (the
    // query's own action must still see the cached frame)
    val train = graft.util.Persist(words.filter(!col("held")))
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

  /** q181's fuzzy-decontamination pipeline, factored so q188's
    * remedy-cost report can consume the same flagged set: MinHash-LSH
    * band candidates oriented across the held split + the exact
    * 3-gram-Jaccard ≥ 0.5 confirm on 120-char prefixes, best held
    * witness per flagged train doc. See q181's registration for the
    * full scale notes.
    */
  private def fuzzyContamination(s: SparkSession, d: String): DataFrame = {
    val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
      .select(col("a_id"), col("b_id"))
      .filter(isHeldOut(col("a_id")) =!= isHeldOut(col("b_id")))
      .select(
        when(isHeldOut(col("a_id")), col("b_id")).otherwise(col("a_id")).as("doc_id"),
        when(isHeldOut(col("a_id")), col("a_id")).otherwise(col("b_id")).as("held_id"))
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
    // ---- per-doc contamination FRACTION: q59/q84 answer "does this
    //      doc share any 8-gram with the held-out set"; eval-overlap
    //      reporting needs HOW MUCH — the fraction of each train doc's
    //      distinct grams that appear in the held-out set. Same
    //      broadcast-held-set shape as q59 (16-byte keys, bounded by
    //      construction), one keyed per-doc aggregate; the left join
    //      keeps uncontaminated docs in the denominator ----
    "q101_contamination_frac" -> ((s, d) => {
      val grams = splitGrams(s, d)
      val held = grams.filter(col("held")).select(col("gh")).distinct()
        .withColumn("hit", lit(true))
      grams.filter(!col("held"))
        .join(broadcast(held), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_contaminated"))
        .withColumn("contam_frac",
          round(col("n_contaminated").cast("double")
            / col("n_grams").cast("double"), 6))
        .orderBy(col("doc_id"))
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
      val heldOut = grams.filter(col("held")).select(col("gh")).distinct()
      grams.filter(!col("held"))
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
        grams.filter(col("held")).select(col("gh")).distinct())
      // might_contain requires a CONSTANT sketch (Spark's own runtime
      // filters inject it as a subquery result); one bounded driver
      // action fetches the single ~numBits/8-byte row and inlines it
      // as a binary literal shipped with the tasks
      val bf = heldOut
        .agg(graft.ext.Bloom.sketchAgg(col("gh"), 100000L, 800000L).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      grams.filter(!col("held"))
        .filter(graft.ext.Bloom.mightContain(lit(bf), col("gh")))
        .join(heldOut, Seq("gh"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("shared_grams"))
        .orderBy(col("doc_id"))
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
        isHeldOut(col("doc_id")).as("held"),
        TA.tokenCount(col("text")).as("n_tokens"))
      val cand = graft.util.Persist(Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2)
        .select(col("a_id"), col("b_id")))
      val nonCanonical = Dedup.connectedComponents(cand, "a_id", "b_id")
        .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      val grams = docs.select(col("doc_id"),
          isHeldOut(col("doc_id")).as("held"),
          explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
      val held = grams.filter(col("held")).select(col("gh")).distinct()
      val contaminated = grams.filter(!col("held"))
        .join(broadcast(held), Seq("gh"))
        .select(col("doc_id")).distinct()
      val survivors = meta
        .filter(col("n_tokens") >= 25 && !col("held"))
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
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      def d1(c: Column) = isDeltaDoc(c) && isFirstIngest(c)
      def d2(c: Column) = isDeltaDoc(c) && !isFirstIngest(c)
      val v2 = maintainedArtifacts(s, d, "chainv2", v1Artifacts(s, d),
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
      val dir = tempQueryDir("graft_q179_sledg_")
      val docsRoot = s"$dir/docs"; val bndRoot = s"$dir/bnd"
      val ck = s"$dir/ck"
      val stream = stagedStream(s, d, "q179_in", delta, 2)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        Streaming.writeBatch(batch.select(col("doc_id")), id, docsRoot,
          append = true)
        val ingested = s.read.parquet(docsRoot)
        val priorDocsB = baseDocs.unionByName(docs.join(
          ingested.filter(col("batch_id") < id).select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
        val corpusB = baseDocs.unionByName(docs.join(
          ingested.filter(col("batch_id") <= id).select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
        val prior = if (id == 0L) v1Artifacts(s, d)
          else readBundle(s, s"$bndRoot/batch_id=${id - 1}")
        var cached = List.empty[DataFrame]
        val next = ledgerMaintainStep(prior, batch,
          emb.join(batch.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi"),
          corpus = corpusB, priorDocs = priorDocsB,
          onPersist = f => cached ::= f)
        writeBundle(next, s"$bndRoot/batch_id=$id")
        cached.foreach(_.unpersist())
      }
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
      appendMaintainedArtifacts(s, d, "appv2", v1Artifacts(s, d),
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
      val v2 = artifact(s, d, "q165_sigv2")(v1SigArtifact(s, d).unionByName(
        Dedup.bandedSignatures(docs.filter(isDeltaDoc(col("doc_id"))),
          "text", "doc_id", k = 8)))
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
          isHeldOut, tau = 0.4)
        .orderBy(col("vec_id"))),

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
        .filter(!isHeldOut(col("doc_id")))
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
      val held59 = grams59.filter(col("held"))
        .select(col("gh")).distinct()
      val exactFlag = grams59.filter(!col("held"))
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
      // ONE cap constant feeds both the contamination run and the
      // over-cap/unscreened report columns (ADVICE r14: four
      // independent copies of the literal could silently diverge from
      // the cap the run actually used)
      val rehearsalCap = 100
      val emb = skewedEmb(s, d)
      val stats = Similarity.cellSafetyStats(emb, "vec_id", "embedding", isHeldOut)
      val flags = Similarity.semanticContamination(emb, "vec_id", "embedding",
          isHeldOut, tau = 0.4, cellCap = rehearsalCap)
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
      val heldOut = grams.filter(col("held")).select(col("gh")).distinct()
      val perDoc = grams.filter(!col("held"))
        .join(broadcast(heldOut), Seq("gh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("shared_grams"))
      val batches = Tables.documents(s, d)
        .select(col("doc_id"),
          isHeldOut(col("doc_id")).as("held"),
          pmod(conv(substring(md5(col("doc_id").cast("string")), 2, 1), 16, 10)
            .cast("long"), lit(4L)).as("batch_id"))
        .filter(!col("held"))
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
      val held = artifact(s, d, "q227_held", Some(1))(
        splitGrams(s, d).filter(col("held")).select(col("gh")).distinct())
      val train = docs
        .filter(!isHeldOut(col("doc_id")))
        .select(col("doc_id"), col("text"))
      val dir = tempQueryDir("graft_q227_sdecon_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val stream = stagedStream(s, d, "q227_in", train, 4)
      Streaming.drain(stream, ck, 4) { (b, id) =>
        val perDoc = b.select(col("doc_id"),
            explode(TA.wordGramHashes(col("text"), 8)).as("gh"))
          .join(broadcast(held), Seq("gh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("shared_grams"))
        // the card's key is named rule_batch INSIDE the store: the
        // K2 sink partitions by the TRIGGER id as batch_id=<id>,
        // and a data column of the same name would be clobbered by
        // partition discovery on read-back
        Streaming.writeBatch(
          b.select(col("doc_id"),
              pmod(conv(substring(md5(col("doc_id").cast("string")),
                2, 1), 16, 10).cast("long"), lit(4L)).as("rule_batch"))
            .join(perDoc, Seq("doc_id"), "left")
            .groupBy(col("rule_batch"))
            .agg(count(lit(1)).as("n_docs"),
              count(col("shared_grams")).as("n_flagged"),
              coalesce(sum(col("shared_grams")), lit(0L))
                .as("n_shared_grams")), id, out, append = true)
      }
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
    }))

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
             round(${duckMeanWordLen("toks")}, 6) AS mwl,
             round(${duckStopRatio("ltoks")}, 6) AS sr,
             round(1.0 - CAST(len(list_distinct(ltoks)) AS DOUBLE)
               / CAST(len(ltoks) AS DOUBLE), 6) AS df
           FROM ${px}qt),
         ${px}dw AS (SELECT doc_id, $duckNormWords AS words FROM documents
           WHERE $docPred),
         ${px}dgp AS (${gramPosSql(px + "dw")}),
         ${px}dg AS (SELECT DISTINCT doc_id,
             $duckGramHash AS gh
           FROM ${px}dgp),
         ${px}dheld AS (SELECT DISTINCT gh FROM ${px}dg
           WHERE ${duckHeldOut("doc_id")}),
         ${px}dcon AS (SELECT DISTINCT doc_id FROM ${px}dg
           WHERE NOT ${duckHeldOut("doc_id")}
             AND gh IN (SELECT gh FROM ${px}dheld)),
         ${px}led AS (SELECT d.doc_id, d.source, d.lang, ${px}qm.n_words,
             CASE WHEN ${duckHeldOut("d.doc_id")}
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

  /** The held-out/train 8-gram split the exact decontamination oracles
    * share ([[splitGrams]] in DuckDB): each doc's distinct gram hashes
    * (`g`), the held-out docs' hashes (`held`, md5 head '0') and the
    * other docs' grams (`train`).
    */
  private lazy val heldTrainGrams: String =
    s"""w AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         gp AS (${gramPosSql("w")}),
         g AS (SELECT DISTINCT doc_id,
             $duckGramHash AS gh
           FROM gp),
         held AS (SELECT DISTINCT gh FROM g
           WHERE ${duckHeldOut("doc_id")}),
         train AS (SELECT doc_id, gh FROM g
           WHERE NOT ${duckHeldOut("doc_id")})"""

  val oracleSql: Map[String, String] = Map(
    "q101_contamination_frac" -> s"""
         WITH $heldTrainGrams
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN h.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(CAST(SUM(CASE WHEN h.gh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS contam_frac
         FROM train t LEFT JOIN held h USING (gh)
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q59_decontaminate" -> s"""
         WITH $heldTrainGrams
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
         FROM train JOIN held USING (gh)
         GROUP BY doc_id ORDER BY doc_id""",
    "q84_decontaminate_bloom" -> s"""
         WITH $heldTrainGrams
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
         FROM train JOIN held USING (gh)
         GROUP BY doc_id ORDER BY doc_id""",
    "q64_curation_pipeline" -> s"""
         WITH RECURSIVE $bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
         noncanon AS (SELECT id AS doc_id FROM
           (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) cc
           WHERE id <> comp),
         nw AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         ngp AS (${gramPosSql("nw")}),
         ng AS (SELECT DISTINCT doc_id,
             $duckGramHash AS gh
           FROM ngp),
         held AS (SELECT DISTINCT gh FROM ng
           WHERE ${duckHeldOut("doc_id")}),
         contam AS (SELECT DISTINCT doc_id FROM ng JOIN held USING (gh)
           WHERE NOT ${duckHeldOut("doc_id")}),
         dmeta AS (SELECT doc_id, source,
             ${duckHeldOut("doc_id")} AS held,
             CAST(len(${duckToks("text")}) AS BIGINT) AS n_tokens
           FROM documents),
         surv AS (SELECT doc_id, source, n_tokens FROM dmeta
           WHERE n_tokens >= 25 AND NOT held
             AND doc_id NOT IN (SELECT doc_id FROM noncanon)
             AND doc_id NOT IN (SELECT doc_id FROM contam)),
         c AS (SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM surv)
         SELECT source, CAST(prev // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         FROM c GROUP BY 1, 2 ORDER BY source, seq_id""",
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
    "q155_release_diff" -> s"""
         WITH $bpeEncodeCtes,
         ${releaseCardCtes("b",
           duckBase("doc_id"))},
         ${releaseCardCtes("n", "TRUE")}
         SELECT metric, round(b.value, 6) AS base_value,
           round(n.value, 6) AS new_value,
           round(n.value - b.value, 6) AS delta
         FROM bu b JOIN nu n USING (metric) ORDER BY metric""",
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
           duckBase("doc_id"),
           duckBase("vec_id"))},
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
    // span excision re-derived positionally: leaked window starts ->
    // covered positions -> anti-joined token rebuild, fingerprinted
    "q180_decontaminate_spans" -> s"""
         WITH dw0 AS (SELECT doc_id, $duckNormWords AS words,
             ${duckHeldOut("doc_id")} AS held
           FROM documents),
         dheld AS (SELECT DISTINCT
             $duckGramHash AS gh
           FROM (${gramPosSql("dw0")} AND held)),
         dtr AS (SELECT doc_id, words FROM dw0 WHERE NOT held),
         dlw AS (SELECT doc_id, i AS s
           FROM (${gramPosSql("dtr")}) t
           WHERE $duckGramHash
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
         fcand AS (${lshPairsSql()}),
         fo AS (SELECT
             CASE WHEN ${duckHeldOut("a_id")}
               THEN b_id ELSE a_id END AS doc_id,
             CASE WHEN ${duckHeldOut("a_id")}
               THEN a_id ELSE b_id END AS held_id
           FROM fcand
           WHERE ${duckHeldOut("a_id")}
             <> ${duckHeldOut("b_id")}),""" + """
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
           WHERE NOT ${duckHeldOut("id")}),
         sdh AS (SELECT id, vec, cell, nrm FROM c
           WHERE ${duckHeldOut("id")}),
         sdp AS (SELECT t.cell, t.id AS vec_id, h.id AS held_id,
             list_inner_product(t.vec, h.vec) / (t.nrm * h.nrm) AS sim
           FROM sdt t JOIN sdh h ON t.cell = h.cell),
         sde AS (SELECT cell, vec_id, held_id, sim, ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY round(sim, 6) DESC, held_id) AS rn
           FROM sdp WHERE round(sim, 6) >= 0.4)
         SELECT vec_id, held_id, round(sim, 6) AS sim, cell
         FROM sde WHERE rn = 1 ORDER BY vec_id""",
    // remedy-cost: exact-drop / span-excise / fuzzy-drop composed from
    // the q59 / q180 / q181 oracle chains over one train-token spine
    "q188_decon_cost" -> (s"""
         WITH dcw AS (SELECT doc_id, $duckNormWords AS words FROM documents),
         dct AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens
           FROM dcw WHERE NOT ${duckHeldOut("doc_id")}),
         dctot AS (SELECT SUM(n_tokens) AS t FROM dct),
         dcgp AS (${gramPosSql("dcw")}),
         dcg AS (SELECT doc_id, i,
             $duckGramHash AS gh
           FROM dcgp),
         dcheld AS (SELECT DISTINCT gh FROM dcg
           WHERE ${duckHeldOut("doc_id")}),
         dclk AS (SELECT g.doc_id, g.i AS s FROM dcg g JOIN dcheld USING (gh)
           WHERE NOT ${duckHeldOut("g.doc_id")}),
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
         dcfc AS (${lshPairsSql()}),
         dcfo AS (SELECT
             CASE WHEN ${duckHeldOut("a_id")}
               THEN b_id ELSE a_id END AS doc_id,
             CASE WHEN ${duckHeldOut("a_id")}
               THEN a_id ELSE b_id END AS held_id
           FROM dcfc
           WHERE ${duckHeldOut("a_id")}
             <> ${duckHeldOut("b_id")}),
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
    // the streaming ingest loop must land the identical full-rebuild
    // ledger — q162's oracle pins the whole family (q149/q160 pattern)
    "q179_stream_ledger" -> s"""
         WITH ${ledgerCtesFor("", "TRUE", "TRUE")}
         SELECT doc_id, source, lang, n_words, drop_reason,
           CAST(drop_reason = 'kept' AS BIGINT) AS kept
         FROM led ORDER BY doc_id""",
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
           duckBase("doc_id"),
           duckBase("vec_id"))},
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
           duckBase("doc_id"),
           duckBase("vec_id"))},
         ${ledgerCtesFor("vb", "TRUE", "TRUE")}
         SELECT a.drop_reason AS reason_v1, b.drop_reason AS reason_v2,
           CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM valed a JOIN vbled b ON a.doc_id = b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // both versions re-derived by FULL recompute over documents: a
    // green row proves the Spark side's delta-maintained v2 equals a
    // from-scratch rebuild, and removed_rows = 0 proves append-only
    "q165_artifact_versioning" -> s"""
         WITH $bandedSigSql,
         vraw AS (SELECT doc_id, band, sigkey FROM lng0
           WHERE sigkey IS NOT NULL),
         v1 AS (SELECT * FROM vraw
           WHERE ${duckBase("doc_id")}),
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
             CAST(SUM(CASE WHEN ${duckHeldOut("id")}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_held,
             CAST(SUM(CASE WHEN NOT ${duckHeldOut("id")}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_train
           FROM skcl GROUP BY 1),
         skc AS (SELECT skcl.id, skcl.vec, skcl.cell,
             sqrt(list_inner_product(skcl.vec, skcl.vec)) AS nrm
           FROM skcl JOIN sksz ON skcl.cell = sksz.cell
           WHERE sksz.cell_size <= 100
             AND list_inner_product(skcl.vec, skcl.vec) > 0),
         skt AS (SELECT id, vec, cell, nrm FROM skc
           WHERE NOT ${duckHeldOut("id")}),
         skh AS (SELECT id, vec, cell, nrm FROM skc
           WHERE ${duckHeldOut("id")}),
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
    // q59's decon CTEs + the second-nibble batch rule; n_docs counts
    // ALL train docs (short docs with no grams included), flagged and
    // gram totals ride a left join
    "q207_contamination_velocity" -> contaminationVelocitySql,
    // the STREAMING decon monitor (q227) gates on this IDENTICAL
    // oracle: per-batch flag counts are additive, so the stream must
    // reproduce the batch card under any trigger membership
    "q227_stream_decon" -> contaminationVelocitySql)

  /** The contamination-velocity oracle shared VERBATIM by q207 (the
    * batch card) and q227 (the streaming monitor): flag counts are
    * additive per ingest batch, so the stream must reproduce the
    * batch card exactly.
    */
  private lazy val contaminationVelocitySql: String = s"""
         WITH $heldTrainGrams,
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
           FROM train JOIN held USING (gh) GROUP BY doc_id),
         bt AS (SELECT doc_id,
             CAST(((strpos('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 4)
               AS BIGINT) AS batch_id
           FROM documents
           WHERE NOT ${duckHeldOut("doc_id")})
         SELECT bt.batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(pd.shared_grams) AS BIGINT) AS n_flagged,
           round(CAST(COUNT(pd.shared_grams) AS DOUBLE) / COUNT(*), 6)
             AS flag_rate,
           CAST(COALESCE(SUM(pd.shared_grams), 0) AS BIGINT)
             AS n_shared_grams
         FROM bt LEFT JOIN pd USING (doc_id)
         GROUP BY 1 ORDER BY 1"""
}
