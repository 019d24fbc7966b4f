package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus pipelines.
  *
  * All families avoid any cartesian product: exact dedup is a hash
  * group-by; MinHash-LSH and SimHash reduce near-dup detection to
  * equi-joins on (band, signature) / fingerprint buckets — the shape
  * that scales to 10^9+ documents (shuffle keyed by signature, AQE
  * handles band skew).
  */
object Dedup {

  /** Exact dedup on a content hash: keeps the row with the minimum id
    * per hash bucket (deterministic survivor selection).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct character k-shingles — single-pass codegen'd custom
    * expression (see [[graft.etl.expressions.CharShingles]]; the
    * composed sequence+transform+array_distinct form allocates ~3× the
    * garbage and dominated GC on the dedup bench queries).
    */
  def charShingles(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.CharShingles(
        org.apache.spark.sql.GraftBridge.expression(c), k))

  /** MinHash signatures: k-shingle → md5 each shingle → band by the
    * first hex nibble (16 bands) → min digest per (doc, band) — all in
    * ONE pass per row via the codegen'd [[graft.etl.expressions.MinhashBands]]
    * expression. md5-as-minhash keeps the pipeline deterministic and
    * engine-portable (the same construction runs in any SQL engine for
    * oracle checks).
    *
    * Shuffle-free where the former explode→groupBy→pivot chain
    * shuffled rows proportional to total corpus shingles; at cluster
    * scale the signature frame is |docs|×16 strings, full stop.
    */
  def minhashBands(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.MinhashBands(
        org.apache.spark.sql.GraftBridge.expression(c), k))

  /** r=2 banded signatures: 8 LSH bands, each keyed by the pair of
    * per-nibble minima (j, j+8). A band collision then requires BOTH
    * minima equal — collision probability s² per band instead of s,
    * which is what keeps the candidate join selective on corpora with
    * heavy shingle sharing (measured: 5M → 135k candidate pairs on the
    * documents table at sf0.1).
    *
    * A band with EITHER nibble minimum absent emits no key at all
    * (short/sparse docs fill few of the 16 nibble buckets). The former
    * '-' placeholder matched absence against absence: two docs with no
    * shared shingles ("hello" vs "world") collided on every mutually
    * empty band and sailed past the n_bands >= 2 gate as
    * high-confidence near-dups. Evidence must be shared presence.
    * Exact short duplicates are q21's job (content hash), not LSH's.
    */
  def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    // mh projected in its own select: a 16-term consumer would other-
    // wise re-evaluate the (non-cheap) expression per element_at.
    val sig = df.select(col(idCol).as("doc_id"), minhashBands(col(textCol), k).as("mh"))
    val keys = (0 until 8).map(j => concat_ws("#",
      element_at(col("mh"), j + 1),
      element_at(col("mh"), j + 9)))
    // concat_ws skips NULL args, so a half-present band would collapse
    // to the bare minhash and could alias a different band pairing;
    // require both halves before keying
    val guarded = (0 until 8).map { j =>
      when(element_at(col("mh"), j + 1).isNotNull &&
        element_at(col("mh"), j + 9).isNotNull, keys(j))
    }
    sig.select(col("doc_id"), posexplode(array(guarded: _*)).as(Seq("band", "minhash")))
      .filter(col("minhash").isNotNull)
  }

  /** [[bandedSignatures]] generalized over rows-per-band r ∈ {1, 2, 4}:
    * the 16 nibble minima regrouped into 16/r bands of r, band j
    * reading minima (j, j + 16/r, j + 2·16/r, …) — the (b, r) knob of
    * the LSH S-curve (P[candidate] = 1 − (1 − s^r)^b; Leskovec et al.,
    * "Mining of Massive Datasets" ch. 3). r = 2 reproduces
    * [[bandedSignatures]]'s production scheme exactly (same (j, j+8)
    * pairing, same band indices); r = 1 is the raw 16-band high-recall
    * end; r = 4 the high-precision end. A band key exists only when ALL
    * r minima are present (the [[bandedSignatures]] null guard at
    * every r).
    *
    * It reads an ALREADY MATERIALIZED minima frame
    * `(doc_id, mh: array<string>[16])` — the key regrouping is pure
    * array arithmetic, so callers that need several bandings of the
    * same corpus (the q201 sweep, the production r=2 signature table)
    * persist the minima ONCE and derive every banding from it instead
    * of re-running the full-text shingle+minhash scan per banding
    * (measured: the scan is ~3x the whole sweep's remaining work).
    */
  def bandedSignaturesFromMinima(minima: DataFrame, r: Int): DataFrame = {
    require(Set(1, 2, 4).contains(r), s"unsupported rows-per-band $r")
    val nBands = 16 / r
    val keys = (0 until nBands).map { j =>
      val parts = (0 until r).map(t => element_at(col("mh"), j + t * nBands + 1))
      when(parts.map(_.isNotNull).reduce(_ && _), concat_ws("#", parts: _*))
    }
    minima.select(col("doc_id"),
        posexplode(array(keys: _*)).as(Seq("band", "minhash")))
      .filter(col("minhash").isNotNull)
  }

  /** Candidate near-dup pairs: bucket-group on (band, minhash) and
    * emit ordered pairs within each bucket — never a cross product.
    * `n_bands` = how many bands collide (up to 8 with
    * [[bandedSignatures]]).
    *
    * Bucket-grouping (one shuffle of the signature frame) replaces the
    * former self-join, which evaluated the signature pipeline TWICE —
    * once per join side — doubling the dominant scan+minhash stage.
    * Within-bucket pair blowup is quadratic in bucket size either way
    * (that is LSH's contract: buckets ≈ near-dup groups, kept small by
    * the r=2 banding).
    *
    * `maxBucket` is the 100-TB safety valve: a degenerate bucket (all
    * boilerplate pages hashing to one (band, sig) cell) would emit
    * O(n²) pairs and stall the stage. Buckets above the cap are
    * DROPPED from candidate generation — the standard LSH-at-scale
    * trade: a bucket that hot is boilerplate, not near-dup signal.
    * Note the recall cost is real, not free: a dropped bucket also
    * stops contributing to the pair's n_bands count, so a pair seen in
    * exactly two bands with one of them hot falls below a
    * `n_bands >= 2` consumer threshold. The query-registry oracles
    * mirror the cap exactly (an anti-join against over-cap buckets),
    * so capped and uncapped regimes both stay under the hash gate.
    * `maxBucket <= 0` disables the cap.
    */
  def minhashCandidates(sig: DataFrame, maxBucket: Int = 10000): DataFrame = {
    // Enforce the cap BEFORE collect_list: filtering size(ids) after
    // the aggregation would still materialize the degenerate bucket's
    // full id array in one reducer buffer — the OOM/stall the cap
    // exists to prevent. A windowed count over the SAME (band, minhash)
    // key shares the groupBy's exchange (one shuffle, one scan — a
    // count-then-semi-join pre-pass would re-evaluate the whole
    // signature pipeline, the regression the bucket-grouping design
    // removed), and WindowExec's row buffer spills to disk, so even
    // the degenerate bucket streams through instead of building a
    // giant in-memory array.
    val base =
      if (maxBucket > 0) {
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("minhash"))
        sig.withColumn("bs", count(lit(1)).over(wB))
          .filter(col("bs") <= maxBucket)
          .drop("bs")
      } else sig
    base.groupBy(col("band"), col("minhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("i", "a_id")), col("ids"))
      .select(col("a_id"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** 16-bit SimHash over a token array.
    *
    * Bit j of the fingerprint is set when the majority of tokens have
    * an odd hex nibble j in md5(token) (the ±1 vote of classic SimHash).
    * 16 bits keeps the cross-engine oracle tractable while exercising
    * the real algorithm; widen with more nibbles for production use.
    *
    * SPEC-REFERENCE FORM ONLY: inlining the md5 transform into the 32
    * HOF consumers re-hashes every token 32x per row (HOFs are exempt
    * from subexpression elimination — the trap the *FromDigests doc
    * below describes). Production callers use the fused [[simhash16]];
    * this wrapper exists as the composed form the parity specs compare
    * against.
    */
  def simhash(tokens: Column): Column = simhashFromDigests(transform(tokens, t => md5(t)))

  /** Single-pass fused form over raw text — bit-identical to
    * `simhashFromDigests(transform(wsTokens(lower(text)), md5))`.
    * See [[graft.etl.expressions.SimHash16]].
    */
  def simhash16(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.SimHash16(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** 64-bit fused SimHash — the production fingerprint width for
    * hamming-banded near-dup (4x16-bit bands -> 65536 buckets/band).
    * See [[graft.etl.expressions.SimHash64]].
    */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.SimHash64(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** SimHash over precomputed md5 digests. Callers should project the
    * digest array in its own select: higher-order functions are
    * excluded from Spark's subexpression elimination, so inlining
    * would re-hash every token 16 times (once per bit).
    */
  // NOTE: a bit-arithmetic variant (base-16 conv of digest nibbles +
  // shifts) measured WORSE cold (26s vs 9s at sf0.1): the 16-term
  // per-token expression tree blows up Janino compile time more than
  // it saves in row work. Nibble-parity via substring stays.
  def simhashFromDigests(digests: Column): Column = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    (0 until 16).map { j =>
      val odd = size(filter(digests, dg => substring(dg, j + 1, 1).isin(oddHex: _*)))
      when(odd * 2 > size(digests), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup candidates into dedup CLUSTERS (pick one
    * canonical doc per component; everything else is a duplicate).
    *
    * Hash-min label propagation with POINTER DOUBLING: each round every
    * node adopts the minimum of (own label, neighbors' labels, label of
    * its label). The neighbor step alone converges in O(component
    * diameter) rounds — measured pathological on chain-shaped near-dup
    * graphs (sf0.1 candidates form max-degree-9 chains; 100+ rounds of
    * fixed per-round shuffle cost = minutes for a 1 400-edge graph). The
    * label-of-label hop compresses paths exponentially, so rounds are
    * O(log diameter) regardless of shape (the same doubling trick as
    * Kiveris et al., "Connected Components in MapReduce and Beyond").
    * Each round is two keyed joins + one aggregation; frames are
    * checkpointed via [[graft.util.Checkpoints]] so plan lineage stays
    * constant across rounds (executor-local by default; reliable when
    * `spark.graft.checkpointDir` is set — required on fleets where an
    * executor can die mid-loop, since truncated lineage can't recompute).
    *
    * Returns (id, cluster_id) where cluster_id = min node id reachable.
    * Only nodes that appear in an edge are returned (isolated docs are
    * their own cluster trivially — callers left-join if they want them).
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String): DataFrame = {
    val sym = graft.util.Checkpoints(
      edges.select(col(src).as("id"), col(dst).as("nbr"))
        .unionByName(edges.select(col(dst).as("id"), col(src).as("nbr")))
        .distinct())
    var labels = graft.util.Checkpoints(
      sym.select(col("id")).distinct().withColumn("comp", col("id")))
    var changed = 1L
    while (changed > 0) {
      // (a) min label over the open neighborhood
      val nbrMin = sym
        .join(labels.select(col("id").as("nbr"), col("comp").as("nc")), Seq("nbr"))
        .groupBy(col("id")).agg(min(col("nc")).as("nmin"))
      val m1 = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("m1"))
      // (b) pointer doubling: follow the adopted label one more hop.
      // labels[x] is always in x's component, so adopting it is sound;
      // at fixpoint comp(id) == comp(comp(id)) and no neighbor improves,
      // which forces comp constant per component.
      val next = graft.util.Checkpoints.lazily(m1
        .join(labels.select(col("id").as("pk"), col("comp").as("pc")),
          col("m1") === col("pk"), "left")
        .select(col("id"), col("old"),
          least(col("m1"), coalesce(col("pc"), col("m1"))).as("comp")))
      // ONE action per iteration: the ungrouped aggregate computes every
      // partition of `next` (materializing the lazy truncation's blocks)
      // and returns the convergence count in the same job — previously
      // eager-checkpoint + count = 2 scheduled jobs per iteration, pure
      // fixed overhead for a loop whose per-iteration data is small
      changed = next.agg(count(when(col("comp") < col("old"), lit(1))))
        .head.getLong(0)
      labels = next.drop("old")
    }
    labels
  }

  /** Incremental connected-components maintenance via the CONTRACTED
    * supergraph: given the persisted base cluster table and only the
    * delta-touching candidate edges, produce labels for the whole
    * corpus WITHOUT re-running CC over the base×base edge set.
    *
    * Nodes of the contracted graph are delta doc ids and base CLUSTER
    * LABELS (each label is the min doc_id of its base component, so
    * min-propagation over the contracted graph yields exactly the
    * min-doc_id label a full recompute assigns — including when one
    * delta doc bridges two base clusters and merges them). The
    * contracted graph is |delta edges|-sized, so the per-ingest CC
    * cost is proportional to the DELTA, not the corpus — the property
    * that makes cluster maintenance viable at 100 TB.
    *
    * @param baseLab    (doc_id, lab): persisted base labels, singletons
    *                   labelled with their own id
    * @param cross      (delta_id, base_id) delta×base candidate pairs
    * @param deltaPairs (a_id, b_id) delta×delta candidate pairs
    * @param deltaDocs  (doc_id) all delta docs (for singleton labels)
    * @return (doc_id, cluster_id, src) for every base and delta doc
    */
  def incrementalComponents(baseLab: DataFrame, cross: DataFrame,
      deltaPairs: DataFrame, deltaDocs: DataFrame): DataFrame = {
    val e1 = cross
      .join(baseLab.select(col("doc_id").as("base_id"), col("lab")), Seq("base_id"))
      .select(col("delta_id").as("s"), col("lab").as("t"))
    val e2 = deltaPairs.select(col("a_id").as("s"), col("b_id").as("t"))
    val superComp = connectedComponents(e1.unionByName(e2), "s", "t")
    val deltaOut = deltaDocs.select(col("doc_id"))
      .join(superComp.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"),
        lit("delta").as("src"))
    val baseOut = baseLab
      .join(superComp.select(col("id").as("lab"), col("comp")), Seq("lab"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("lab")).as("cluster_id"),
        lit("base").as("src"))
    deltaOut.unionByName(baseOut)
  }

  /** Character n-gram Jaccard similarity of two strings (distinct
    * n-gram sets), as used for near-dup scoring. Single-pass codegen'd
    * expression — see [[graft.etl.expressions.NGramJaccard]].
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.NGramJaccard(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b), n))
}
