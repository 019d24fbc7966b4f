package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.streaming.Streaming
import graft.util.Tables

import Fragments._

/** ANN/PQ family: exact and approximate nearest-neighbour search (LSH,
  * IVF, int8, PQ/OPQ and ADC rerank), codebook training, index
  * maintenance and the streaming index ingests.
  */
object AnnQueries extends QueryFamily {
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
      collectCodebook(Similarity.pqTrainIteration(Tables.embeddings(s, d),
        "vec_id", "embedding"))
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
      val emb = trainingEmb(s, d, baseOnly)
      val coarse = collectCentroids(Similarity.kmeansIteration(emb, "vec_id", "embedding"))
      val resid = collectCodebook(Similarity
        .pqTrainIteration(residualFrameOf(emb, coarse), "vec_id", "resid"))
      (coarse, resid)
    })

  /** The population the real-embedding artifacts train on: the
    * oracle's usableVec contract exactly (non-null, non-empty,
    * norm > 0; the downstream null/empty filters alone would let a
    * zero-norm vector desynchronize the trained artifacts between
    * engines, ADVICE r16 #2), restricted to the md5 base slice with
    * `baseOnly`.
    */
  private def trainingEmb(s: SparkSession, d: String, baseOnly: Boolean): DataFrame = {
    val emb = nonZero(Tables.embeddings(s, d), col("embedding").cast("array<double>"))
    if (baseOnly) emb.filter(!isDeltaDoc(col("vec_id"))) else emb
  }

  /** `df`'s rows whose vector `v` has a positive squared norm. */
  private def nonZero(df: DataFrame, v: Column): DataFrame =
    df.filter(Similarity.dotFold(v, v) > 0)

  /** The per-dimension population variances of `frame`'s 64-dim
    * column `c`, rounded at 6 in Spark SQL so the rank order comes from
    * exactly the values the oracle's `var_pop` CTE rounds the same
    * way, collected, with [[Similarity.balancedLayout]]'s snake deal
    * over them.
    */
  private def varianceLayout(frame: DataFrame, c: String): (Seq[Double], Seq[Int]) = {
    val aggs = (0 until 64).map(i =>
      round(var_pop(element_at(col(c), i + 1)), 6).as(s"v$i"))
    val r = frame.agg(aggs.head, aggs.tail: _*).collect()(0)
    val vars = (0 until 64).map(r.getDouble)
    (vars, Similarity.balancedLayout(vars))
  }

  /** The identity PQ layout: dimension i in subspace i / 8. */
  private val identityLayout: Seq[Int] = 0 until 64

  /** A k-means step's (cell, pos, value) rows, collected as one
    * pos-ordered centroid per cell, sorted by cell.
    */
  private def collectCentroids(step: DataFrame): Seq[(Int, Seq[Double])] =
    step.collect()
      .groupBy(_.getLong(0).toInt)
      .map { case (cell, rows) =>
        (cell, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq) }
      .toSeq.sortBy(_._1)

  /** A PQ trainer's (sub, c, pos, value) rows, collected as one
    * pos-ordered centroid per (sub, c), sorted by (sub, c).
    */
  private def collectCodebook(trained: DataFrame): Seq[(Int, Int, Seq[Double])] =
    trained.collect()
      .groupBy(r => (r.getLong(0).toInt, r.getLong(1).toInt))
      .map { case ((sub, c), rows) =>
        (sub, c, rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq) }
      .toSeq.sortBy(x => (x._1, x._2))

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
    nonZero(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .filter(col("v0").isNotNull && size(col("v0")) > 0)
      .select(col("vec_id"),
        // == transform(v0, (x,i) => x * when(i<8, 4.0, 1.0)), compiled
        // (IndexWeight, round 19): pushdown inlined the interpreted
        // lambda up to 6× per Filter condition in the q237 family
        // (VERDICT r18 #1); the kernel is cheap per copy and CSE-able
        Similarity.indexWeight(col("v0"), 8, 4.0).as("vec")), col("vec"))

  /** q184's per-dimension variance artifact + the variance-balanced
    * layout derived from it — ONE corpus aggregate (64 rounded
    * doubles, [[varianceLayout]]) collected and memoized per input dir
    * (the PQ-codebook collect discipline).
    */
  private val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Double], Seq[Int])]()

  private[graft] def opqVarLayout(s: SparkSession, d: String): (Seq[Double], Seq[Int]) =
    opqCache.computeIfAbsent(d, _ => varianceLayout(anisoEmb(s, d), "vec"))

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
      collectCodebook(Similarity.pqTrainIteration(anisoEmb(s, d),
        "vec_id", "vec", perm = Some(perm)))
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
      val coarse = collectCentroids(Similarity.kmeansIteration(emb, "vec_id", "vec"))
      (coarse, varianceLayout(residualFrameOf(emb, coarse, vecCol = "vec"), "resid")._2)
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
      collectCodebook(Similarity.pqTrainIteration(
          residualFrameOf(anisoEmb(s, d), coarse, vecCol = "vec"),
          "vec_id", "resid", perm = Some(perm)))
    })

  /** The q238 slices, shared with q240: the usable-vector population,
    * its md5 base/delta split, and the encoder-drifted delta (dims
    * 0-7 ×4 — the aniso rehearsal rule applied to the incoming
    * slice). One definition so the trigger and its remediation ladder
    * cannot desynchronize on the drift model.
    */
  private def driftSlices(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val usable = trainingEmb(s, d, baseOnly = false)
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
      val coarse = collectCentroids(Similarity.kmeansIteration(mixed, "vec_id", "embedding"))
      val rf = graft.util.Persist(residualFrameOf(mixed, coarse))
      val (_, perm) = varianceLayout(rf, "resid")
      def cbOf(p: Seq[Int]) = collectCodebook(Similarity
        .pqTrainIteration(rf, "vec_id", "resid", perm = Some(p)))
      val out = (coarse, perm, cbOf(identityLayout), cbOf(perm))
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
      // the exact training population ivfPqTrained(base) saw
      val rf = graft.util.Persist(
        residualFrameOf(trainingEmb(s, d, baseOnly = true), coarse))
      val (_, perm) = varianceLayout(rf, "resid")
      val cb = collectCodebook(
        Similarity.pqTrainIteration(rf, "vec_id", "resid", perm = Some(perm)))
      rf.unpersist()
      (coarse, perm, cb)
    })

  /** A frozen IVF-PQ bundle over the real embeddings: trained coarse
    * cells, the residual codebook, and the layout its codes are
    * gathered under (None: identity).
    */
  private case class Frozen(coarse: Seq[(Int, Seq[Double])],
      cb: Map[Int, Seq[Seq[Double]]], perm: Option[Seq[Int]] = None) {
    /** `emb`'s (cell, id, code) residual index rows. */
    def encode(emb: DataFrame): DataFrame = Similarity.ivfPqResidualIndex(
      emb, "vec_id", "embedding", coarse, cb, perm = perm)

    /** ADC top-k of `q` over the index rows `idx` (LUT gathered
      * through the same layout).
      */
    def search(q: DataFrame, idx: DataFrame, k: Int): DataFrame =
      Similarity.ivfPqAdcTopKIndex(q, idx, "vec_id", "embedding", k = k,
        coarse, cb, perm = perm)
  }

  /** The identity bundle trained on the md5 base slice
    * ([[ivfPqTrained]]): the artifacts q232 releases and freezes.
    */
  private def frozenIdentity(s: SparkSession, d: String): Frozen = {
    val (coarse, rows) = ivfPqTrained(s, d, baseOnly = true)
    Frozen(coarse, codebookMap(rows))
  }

  /** The base-trained OPQ bundle ([[ivfPqOpqTrained]]): the artifacts
    * q242 releases and freezes.
    */
  private def frozenOpq(s: SparkSession, d: String): Frozen = {
    val (coarse, perm, rows) = ivfPqOpqTrained(s, d)
    Frozen(coarse, codebookMap(rows), Some(perm))
  }

  /** A released index: the md5 base slice of the embeddings through
    * `encode`, written under `key` once per session and read back.
    */
  private def releasedIndex(s: SparkSession, key: String, d: String)(
      encode: DataFrame => DataFrame): DataFrame = {
    val dir = CoreQueries.sharedInputDir(key) { p =>
      encode(Tables.embeddings(s, d).filter(!isDeltaDoc(col("vec_id"))))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(dir)
  }

  /** q232's released index under [[frozenIdentity]]: q232 appends to
    * it, q239 chains on it, q246 serves it and q249 tombstones it.
    */
  private def q232Index(s: SparkSession, d: String): DataFrame =
    releasedIndex(s, s"graft_q232_idx_${CoreQueries.dirToken(d)}", d)(
      frozenIdentity(s, d).encode)

  /** q242's released index under [[frozenOpq]]: q242 appends to it,
    * q246 and q248 serve it.
    */
  private def q242Index(s: SparkSession, d: String): DataFrame =
    releasedIndex(s, s"graft_q242_idx_${CoreQueries.dirToken(d)}", d)(
      frozenOpq(s, d).encode)

  /** An index maintained since release: the `released` rows ∪ the md5
    * delta slice of `emb` encoded under the same bundle; with `tagged`
    * each side carries the path that produced it as `src`.
    */
  private def maintained(released: DataFrame, emb: DataFrame, f: Frozen,
      tagged: Boolean = false): DataFrame = {
    def side(rows: DataFrame, src: String) =
      if (tagged) rows.withColumn("src", lit(src)) else rows
    side(released, "base").unionByName(
      side(f.encode(emb.filter(isDeltaDoc(col("vec_id")))), "delta"))
  }

  /** The streaming index ingest of q137, q232 and q242: the md5 delta
    * slice, written once per session as 4 files under `graft_<q>_in_`,
    * drains as 4 micro-batches, each appending its `encode` rows
    * through the idempotent batch_id-partitioned K2 sink into a
    * `graft_<q>_<tmp>_` temp dir. The appended rows come back beside
    * the released `base` rows, both projected to `cols` and tagged by
    * the path that produced them (`src`).
    */
  private def streamIngest(s: SparkSession, d: String, q: String, tmp: String,
      base: DataFrame, cols: String*)(encode: DataFrame => DataFrame): DataFrame = {
    val delta = Tables.embeddings(s, d).filter(isDeltaDoc(col("vec_id")))
      .select(col("vec_id"), col("embedding"))
    val in = CoreQueries.sharedInputDir(
      s"graft_${q}_in_${CoreQueries.dirToken(d)}") { p =>
      delta.repartition(4).write.mode("overwrite").parquet(p)
    }
    val dir = CoreQueries.tempQueryDir(s"graft_${q}_${tmp}_")
    val out = s"$dir/out"
    Streaming.drain(Streaming.eventsStream(s, in, delta.schema), s"$dir/ck", 4) {
      (batch, id) => Streaming.writeBatch(encode(batch), id, out, append = true)
    }
    val c = cols.map(col)
    s.read.parquet(out).select(c: _*).withColumn("src", lit("delta"))
      .unionByName(base.select(c: _*).withColumn("src", lit("base")))
  }

  /** Index rows as the oracles compare them: cell, vec_id, the code
    * array rendered as CSV (a list column crashes the oracle check's pandas
    * sort), `extra`, and `src`, ordered by vec_id.
    */
  private def indexRows(idx: DataFrame, extra: Column*): DataFrame =
    idx.select(Seq(col("cell"), col("id").as("vec_id"),
        array_join(transform(col("code"), _.cast("string")), ",").as("code")) ++
        extra :+ col("src"): _*)
      .orderBy(col("vec_id"))

  /** The exact top-3 (q_id, n_id) truth an ANN recall card scores
    * against: `q`'s neighbours in `corpus` by inner product, or by
    * cosine with `cosine`.
    */
  private def exactTop3(q: DataFrame, corpus: DataFrame,
      vec: String = "embedding", cosine: Boolean = false): DataFrame =
    (if (cosine) Similarity.bruteForceTopK(q, corpus, "vec_id", vec, k = 3)
     else Similarity.bruteForceDotTopK(q, corpus, "vec_id", vec, k = 3))
      .select(col("q_id"), col("n_id"))

  /** `truth` (q_id, n_id) left-joined to `approx`'s rows renamed
    * (a_q, a_n): `a_n` is non-null where the approximate side found a
    * truth neighbour. With `perProbe` both sides also carry `n_probe`
    * (`a_p` on the approximate side) and rows match within a probe
    * level.
    */
  private def recallJoin(truth: DataFrame, approx: DataFrame,
      perProbe: Boolean = false): DataFrame = {
    val hit = col("q_id") === col("a_q") && col("n_id") === col("a_n")
    val probe = if (perProbe) Seq(col("n_probe").as("a_p")) else Nil
    truth.join(
      approx.select(probe ++ Seq(col("q_id").as("a_q"), col("n_id").as("a_n")): _*),
      if (perProbe) col("n_probe") === col("a_p") && hit else hit, "left")
  }

  /** A [[recallJoin]]'s truth rows (named `total`) and found rows
    * (`n_found`), per `by`.
    */
  private def recallCounts(joined: DataFrame, total: String = "n_truth",
      by: Seq[Column] = Nil): DataFrame =
    joined.groupBy(by: _*)
      .agg(count(lit(1)).as(total), count(col("a_n")).as("n_found"))

  /** recall@3 from [[recallCounts]], 0 when there is no truth. */
  private def recallAt3: Column =
    when(col("n_truth") === 0, 0.0)
      .otherwise(round(col("n_found").cast("double") / col("n_truth"), 6))
      .as("recall_at_3")

  /** Per query, the truth neighbours `approx` found (`n_hits`) and
    * recall@3, after the `label` columns.
    */
  private def hitsAt3(truth: DataFrame, approx: DataFrame,
      label: Column*): DataFrame =
    recallJoin(truth, approx).groupBy(col("q_id"))
      .agg(count(col("a_n")).as("n_hits"))
      .select(label ++ Seq(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0), 6).as("recall_at_3")): _*)

  /** One recall row per level of a knob sweep: `exact` against
    * `approx(level)`'s ranking, the level as column `name`.
    */
  private def recallSweep(exact: DataFrame, name: String, levels: Seq[Int])(
      approx: Int => DataFrame): DataFrame =
    levels.map { l =>
      recallCounts(recallJoin(exact, approx(l)), "n_exact")
        .select(lit(l.toLong).as(name), col("n_exact"), col("n_found"),
          round(col("n_found").cast("double") / col("n_exact"), 6).as("recall"))
    }.reduce(_.unionByName(_))
      .orderBy(col(name))

  /** The raw-vector gather of an ADC shortlist over the aniso corpus:
    * `short`'s candidate rows joined to their corpus and query
    * vectors and scored by the exact inner product rounded at 6
    * (`ip`), keeping `cols`; persisted, since every level of a sweep
    * filters it.
    */
  private def shortlistIp(aniso: DataFrame, q: DataFrame, short: DataFrame,
      cols: String*): DataFrame =
    graft.util.Persist(
      aniso.select(col("vec_id").as("n_id"), col("vec").as("n_vec"))
        .join(broadcast(short), Seq("n_id"))
        .join(broadcast(q.select(col("vec_id").as("q_id"), col("vec").as("q_vec"))),
          Seq("q_id"))
        .withColumn("ip",
          round(Similarity.dotFold(col("q_vec"), col("n_vec")), 6))
        .select(cols.map(col): _*))

  /** One level of an exact re-rank sweep: the [[shortlistIp]] rows
    * `lv` re-ranked by `w` to a top-3, their [[recallCounts]] against
    * `exact`, and the exact dots the level spent (`n_exact`).
    */
  private def rerankLevel(exact: DataFrame, lv: DataFrame,
      w: WindowSpec): DataFrame =
    recallCounts(recallJoin(exact,
        lv.withColumn("rr", row_number().over(w)).filter(col("rr") <= 3)))
      .crossJoin(broadcast(lv.agg(count(lit(1)).as("n_exact"))))

  /** Per-subspace residual MSE under layout `perm` and codebook `rows`
    * ([[Similarity.pqPermMse]] over the residual frame `rf`), pivoted
    * into the ordered 8-term sum `name` rounded at 6 (pqTermPivot's
    * fold), after the `carry` columns (max over subspaces).
    */
  private def mseSum8(rf: DataFrame, perm: Seq[Int],
      rows: Seq[(Int, Int, Seq[Double])], name: String, carry: String*): DataFrame = {
    val aggs = carry.map(c => max(col(c)).as(c)) ++
      (0 until 8).map(i => max(when(col("sub") === i, col("mse"))).as(s"m$i"))
    Similarity.pqPermMse(rf, "vec_id", "resid", perm, rows)
      .agg(aggs.head, aggs.tail: _*)
      .select(carry.map(col) :+
        round((0 until 8).map(i => col(s"m$i")).reduce(_ + _), 6).as(name): _*)
  }

  val queries: Map[String, Q] = Map(
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

    // ---- brute-force cosine top-k (exact ANN baseline) ----
    "q25_knn_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rank"))
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
      recallJoin(exactTop3(q, emb, cosine = true),
          Similarity.quantizedIvfTopK(q, emb, "vec_id", "embedding", k = 3))
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hits"),
          round(count(col("a_n")) / lit(3.0), 6).as("recall_at_3"))
        .orderBy(col("q_id"))
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
      recallJoin(exactTop3(q, emb, cosine = true),
          Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 3, nPlanes = 8))
        .groupBy(col("q_id"))
        .agg(count(col("a_n")).as("n_hits"),
          round(count(col("a_n")) / lit(3.0), 6).as("recall_at_3"))
        .orderBy(col("q_id"))
    }),

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
      recallSweep(graft.util.Persist(exactTop3(q, emb, cosine = true)),
          "n_probe", Seq(1, 2, 4, 8, 16)) { p =>
        Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 3, nProbe = p)
      }
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
      hitsAt3(exactTop3(q, emb),
          Similarity.pqAdcTopK(q, emb, "vec_id", "embedding", k = 3))
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
      recallSweep(graft.util.Persist(exactTop3(q, emb, cosine = true)),
          "trunc_dim", Seq(8, 16, 32, 64)) { td =>
        Similarity.truncatedTopK(q, emb, "vec_id", "embedding", k = 3, d = td)
      }
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
      val stream = Streaming.eventsStream(s, in, delta.schema)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        Streaming.writeBatch(streamBatchSemantic(batch, baseIdx,
          baseCellCounts = Some(baseCnt)), id, out, append = true)
      }
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
      val cb = codebookMap(pqRefinedCodebook(s, d))
      hitsAt3(exactTop3(q, emb),
          Similarity.pqAdcTopKWith(q, emb, "vec_id", "embedding", k = 3, cb))
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
      val base = releasedIndex(s, s"graft_q137_idx_${CoreQueries.dirToken(d)}", d)(
        streamBatchQuantIndex)
      indexRows(
        streamIngest(s, d, "q137", "sidx", base,
          "cell", "id", "code", "scale", "cnorm")(streamBatchQuantIndex),
        round(col("scale"), 6).as("scale"), round(col("cnorm"), 6).as("cnorm"))
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
      val aniso = anisoEmb(s, d)
      def side(name: String, perm: Seq[Int]) =
        Similarity.pqPermMse(aniso, "vec_id", "vec", perm,
            opqRefined(s, d, name, perm))
          .select(lit(name).as("layout"), col("sub"), col("n_vecs"), col("mse"))
      side("identity", identityLayout).unionByName(side("balanced", balanced))
        .orderBy(col("layout"), col("sub"))
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
      val aniso = anisoEmb(s, d)
      val q = aniso.filter(col("vec_id") < 50)
      // BOTH layout branches of the union join against the truth side —
      // persist it so the fenced 50×corpus exact-IP ranking (the row's
      // dominant scan) runs once, not once per branch
      val exact = graft.util.Persist(exactTop3(q, aniso, "vec"))
      def side(name: String, perm: Seq[Int]) = {
        val cb = codebookMap(opqRefined(s, d, name, perm))
        hitsAt3(exact, Similarity.pqAdcTopKWith(q, aniso, "vec_id", "vec",
            k = 3, cb, perm = Some(perm)), lit(name).as("layout"))
      }
      side("identity", identityLayout).unionByName(side("balanced", balanced))
        .orderBy(col("layout"), col("q_id"))
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
      val truth = exactTop3(q, emb, cosine = true)
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
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
      val exact = graft.util.Persist(exactTop3(q, emb, cosine = true))
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
        val rec = recallCounts(recallJoin(exact,
          pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)),
          "n_exact")
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
      val exact = graft.util.Persist(exactTop3(q, emb))
      def leg(name: String, residual: Boolean,
          cb: Map[Int, Seq[Seq[Double]]]) =
        recallCounts(recallJoin(exact, Similarity.ivfPqAdcTopKOn(q, emb,
            "vec_id", "embedding", k = 3, coarse, cb, residual)))
          .select(lit(name).as("variant"), col("n_truth"), col("n_found"),
            recallAt3)
      val cand = Similarity.ivfCandidatePairsOn(q, emb, "vec_id",
          "embedding", coarse)
        .agg(count(lit(1)).as("n_candidates"))
      leg("flat_pq", residual = false, flatCb)
        .unionByName(leg("ivfpq_residual", residual = true, resCb))
        .crossJoin(broadcast(cand))
        .orderBy(col("variant"))
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
      val f = frozenIdentity(s, d)
      indexRows(streamIngest(s, d, "q232", "spq", q232Index(s, d),
        "cell", "id", "code")(f.encode))
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
      val f = frozenIdentity(s, d)
      val stale = graft.util.Persist(
        f.encode(emb.filter(!isDeltaDoc(col("vec_id")))))
      val exact = graft.util.Persist(exactTop3(q, emb))
      def joined(idx: DataFrame) = recallJoin(exact, f.search(q, idx, 3))
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
      val mh = joined(maintained(stale, emb, f)).groupBy(col("q_id"))
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
      val exact = graft.util.Persist(exactTop3(q, emb))
      val pr = probes.map(p => s.range(1).select(lit(p.toLong).as("n_probe")))
        .reduce(_ unionByName _)
      val rec = recallCounts(
        recallJoin(pr.crossJoin(exact), swept, perProbe = true),
        by = Seq(col("n_probe")))
      val cost = Similarity.ivfPqProbeCosts(q, idx, "vec_id", "embedding",
        coarse, probes)
      rec.join(cost, Seq("n_probe"))
        .select(col("n_probe"), col("n_candidates"), col("n_truth"),
          col("n_found"), recallAt3)
        .orderBy(col("n_probe"))
    }),

    // ---- OPQ at the RESIDUAL rung (VERDICT r16 #3): q184 proved the
    //      variance-balanced layout on FLAT codes; q229's residual
    //      index still encodes under the identity layout. This card
    //      threads the [[Similarity.balancedLayout]] permutation
    //      through the residual encode + ADC query path
    //      (ivfPqAdcTopKOn with a perm) and gates residual-OPQ against
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
      val rf = graft.util.Persist(
        residualFrameOf(aniso, coarse, vecCol = "vec"))
      val exact = graft.util.Persist(exactTop3(q, aniso, "vec"))
      def leg(name: String, perm: Seq[Int]) = {
        val rows = anisoResidualCb(s, d, name, perm)
        val rec = recallCounts(recallJoin(exact, Similarity.ivfPqAdcTopKOn(
          q, aniso, "vec_id", "vec", k = 3, coarse, codebookMap(rows),
          residual = true, perm = Some(perm))))
        rec.crossJoin(broadcast(mseSum8(rf, perm, rows, "resid_mse")))
          .select(lit(name).as("layout"), col("n_truth"), col("n_found"),
            recallAt3, col("resid_mse"))
      }
      leg("identity", identityLayout).unionByName(leg("balanced", balanced))
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
      def mseOf(df: DataFrame) = mseSum8(residualFrameOf(df, coarse),
        identityLayout, residRows, "frozen_mse", "n_vecs")
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
      val f = frozenIdentity(s, d)
      // the SAME released artifact q232 maintains (shared dir)
      val v1 = q232Index(s, d).withColumn("src", lit("base"))
      def ingest(name: String, pred: Column) =
        f.encode(emb.filter(pred)).withColumn("src", lit(name))
      val v2 = v1.unionByName(
        ingest("delta1", firstHex(col("vec_id")) === "0"))
      val v3 = v2.unionByName(
        ingest("delta2", firstHex(col("vec_id")).isin("1", "2")))
      indexRows(v3)
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
      def mse8(df: DataFrame, coarse: Seq[(Int, Seq[Double])],
          p: Seq[Int], rows: Seq[(Int, Int, Seq[Double])]) =
        mseSum8(residualFrameOf(df, coarse), p, rows, "shifted_mse", "n_vecs")
      val baseRef = mse8(base, fCoarse, identityLayout, fRows)
        .select(col("shifted_mse").as("base_mse"))
      def row(regime: String, x: DataFrame) =
        x.select(lit(regime).as("regime"), col("n_vecs"),
          col("shifted_mse"))
      row("frozen", mse8(shifted, fCoarse, identityLayout, fRows))
        .unionByName(row("retrained", mse8(shifted, rCoarse, identityLayout, cbId)))
        .unionByName(
          row("retrained_opq", mse8(shifted, rCoarse, perm, cbOp)))
        .crossJoin(broadcast(baseRef))
        .select(col("regime"), col("n_vecs"), col("shifted_mse"),
          round(col("shifted_mse") / col("base_mse"), 6).as("mse_ratio"))
        .orderBy(col("regime"))
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
      val f = frozenOpq(s, d)
      indexRows(streamIngest(s, d, "q242", "sopq", q242Index(s, d),
        "cell", "id", "code")(f.encode))
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
      val cb = codebookMap(anisoResidualCb(s, d, "identity", identityLayout))
      val exact = graft.util.Persist(exactTop3(q, aniso, "vec"))
      def leg(name: String, kShort: Long, ap: DataFrame) =
        recallCounts(recallJoin(exact, ap))
          .select(lit(name).as("leg"), lit(kShort).as("k_short"),
            col("n_truth"), col("n_found"), recallAt3)
      val adc = Similarity.ivfPqAdcTopKOn(q, aniso, "vec_id", "vec",
        k = 3, coarse, cb, residual = true, perm = Some(identityLayout))
      val rr = Similarity.ivfPqAdcRerankTopK(q, aniso, "vec_id", "vec",
        k = 3, kShort = 10, coarse, cb, identityLayout)
      leg("adc", 3L, adc).unionByName(leg("adc_rerank", 10L, rr))
        .orderBy(col("leg"))
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
      val cb = codebookMap(anisoResidualCb(s, d, "identity", identityLayout))
      val levels = Seq(3, 5, 10, 20)
      val short = graft.util.Persist(
        Similarity.ivfPqAdcTopKOn(q, aniso, "vec_id", "vec",
          k = levels.max, coarse, cb, residual = true, perm = Some(identityLayout))
          .select(col("q_id"), col("rank"), col("n_id")))
      // one gather of the max shortlist's raw vectors + exact dots;
      // every level re-ranks a filter of this frame
      val scored = shortlistIp(aniso, q, short, "q_id", "n_id", "rank", "ip")
      val exact = graft.util.Persist(exactTop3(q, aniso, "vec"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("ip").desc, col("n_id").asc)
      levels.map { l =>
        rerankLevel(exact, scored.filter(col("rank") <= l), w)
          .select(lit(l.toLong).as("k_short"), col("n_truth"),
            col("n_found"), recallAt3, col("n_exact"))
      }.reduce(_ unionByName _).orderBy(col("k_short"))
    }),

    // ---- SERVING the frozen-OPQ maintained index (closes the q242
    //      loop): q242 maintains the artifact under the frozen perm
    //      bundle but nothing READ it yet — this card runs the
    //      deployed query path (ivfPqAdcTopKIndex with the perm: query LUT
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
      val exact = graft.util.Persist(exactTop3(q, emb))
      def rec(name: String, ap: DataFrame) =
        recallCounts(recallJoin(exact, ap))
          .select(lit(name).as("layout"), col("n_truth"), col("n_found"),
            recallAt3)
      // balanced: the q242 released artifact + delta encode under the
      // frozen perm bundle, served through the perm LUT path
      val opq = frozenOpq(s, d)
      val opqIdx = maintained(q242Index(s, d), emb, opq)
      // identity: the q232 released artifact + delta encode, served
      // through the identity LUT path (q234's maintained side)
      val id = frozenIdentity(s, d)
      val idIdx = maintained(q232Index(s, d), emb, id)
      rec("balanced", opq.search(q, opqIdx, 3))
        .unionByName(rec("identity", id.search(q, idIdx, 3)))
        .orderBy(col("layout"))
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
      val f = frozenOpq(s, d)
      val idx = maintained(q242Index(s, d), emb, f)
      val exact = graft.util.Persist(exactTop3(q, emb))
      def rec(name: String, kShort: Long, ap: DataFrame) =
        recallCounts(recallJoin(exact, ap))
          .select(lit(name).as("leg"), lit(kShort).as("k_short"),
            col("n_truth"), col("n_found"), recallAt3)
      val adc = f.search(q, idx, 3)
      val rr = Similarity.exactRerank(f.search(q, idx, 10), q, emb,
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
      val f = frozenIdentity(s, d)
      indexRows(maintained(q232Index(s, d), Tables.embeddings(s, d), f,
          tagged = true)
        .filter(!isTombstoned(col("id"))))
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
      val cb = codebookMap(anisoResidualCb(s, d, "identity", identityLayout))
      val idx = Similarity.ivfPqResidualIndex(aniso, "vec_id", "vec",
        coarse, cb)
      val probes = Seq(1, 4, 16)
      val kShorts = Seq(3, 10)
      val swept = graft.util.Persist(
        Similarity.ivfPqProbeSweep(q, idx, "vec_id", "vec",
          k = kShorts.max, coarse, cb, probes))
      // one raw gather + exact dots for the max shortlist of every
      // probe level; each grid cell filters this frame
      val scored = shortlistIp(aniso, q,
        swept.select(col("n_probe"), col("q_id"), col("rank"), col("n_id")),
        "n_probe", "q_id", "n_id", "rank", "ip")
      val cost = Similarity.ivfPqProbeCosts(q, idx, "vec_id", "vec",
        coarse, probes)
      val exact = graft.util.Persist(exactTop3(q, aniso, "vec"))
      val w = Window.partitionBy(col("n_probe"), col("q_id"))
        .orderBy(col("ip").desc, col("n_id").asc)
      val legs = for { p <- probes; ks <- kShorts } yield
        rerankLevel(exact,
            scored.filter(col("n_probe") === p && col("rank") <= ks), w)
          .select(lit(p.toLong).as("n_probe"), lit(ks.toLong).as("k_short"),
            col("n_exact"), col("n_truth"), col("n_found"), recallAt3)
      legs.reduce(_ unionByName _)
        .join(broadcast(cost), Seq("n_probe"))
        .select(col("n_probe"), col("k_short"), col("n_candidates"),
          col("n_exact"), col("n_truth"), col("n_found"),
          col("recall_at_3"))
        .orderBy(col("n_probe"), col("k_short"))
    }))

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

  /** Shared aniso-corpus oracle CTEs: the anisotropic rehearsal
    * fixture `au` (dims 0–7 scaled 4×, usable-vector contract), its
    * rounded per-dimension population variances `avr` and their snake
    * layout `abmap` — mirroring [[anisoEmb]] and [[opqVarLayout]]
    * exactly (same scale rule, same row set, same round-at-6) — and
    * the identity layout `aimap`.
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
         ${snakeLayoutSql("a", "au", "vec", "adims")},
         ${identityMapSql("aimap", "adims")}"""

  /** The variance-balanced layout in DuckDB: `$src`'s rounded
    * per-dimension population variances of the 64-dim `$vec`
    * (`${px}vr`), their ranks (`${px}rk`) and the snake deal of the
    * ranks over the 8 subspaces (`${px}bmap(dim, sub, pos)`) —
    * [[varianceLayout]] and [[Similarity.balancedLayout]] mirrored.
    * Requires the `$dims` (0..63) CTE.
    */
  private def snakeLayoutSql(px: String, src: String, vec: String,
      dims: String): String = s"""
         ${px}vr AS (SELECT dim, round(var_pop($vec[dim + 1]), 6) AS v
           FROM $src CROSS JOIN $dims GROUP BY dim),
         ${px}rk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1
             AS r FROM ${px}vr),
         ${px}bmap AS (SELECT dim,
             CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
               ELSE 7 - (r % 8) END AS BIGINT) AS sub,
             CAST(r // 8 AS BIGINT) AS pos FROM ${px}rk)"""

  /** The identity layout map `$name(dim, sub, pos)` over `$dims`. */
  private def identityMapSql(name: String, dims: String): String =
    s"""$name AS (SELECT dim, CAST(dim // 8 AS BIGINT) AS sub,
             CAST(dim % 8 AS BIGINT) AS pos FROM $dims)"""

  /** One Lloyd step of the PQ codebook under layout map `mp`: the
    * `$src` rows' (`$id`, `$vec`) vectors with norm > 0, gathered into
    * per-subspace subvectors `${px}sv(vec_id, sub, sv)`, encoded
    * against the static init `pqc` (rounded key, low c), and the
    * member means rounded at 6 as `${px}rc(sub, c, rvec)` — the
    * [[opqRefined]] trainer mirrored. Requires `pqc` and `poss`.
    */
  private def opqRefineSql(px: String, src: String, id: String, vec: String,
      mp: String): String = s"""
         ${px}sv AS (SELECT r.$id AS vec_id, m.sub,
             list(r.$vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM $src r CROSS JOIN $mp m
           WHERE list_inner_product(r.$vec, r.$vec) > 0
           GROUP BY r.$id, m.sub),
         ${px}k0 AS (SELECT s.vec_id, s.sub, s.sv, p.c,
             list_inner_product(p.pvec, p.pvec)
               - 2 * list_inner_product(s.sv, p.pvec) AS key
           FROM ${px}sv s JOIN pqc p ON p.sub = s.sub),
         ${px}cd AS (SELECT vec_id, sub, sv, c FROM (
             SELECT vec_id, sub, sv, c, ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub ORDER BY round(key, 6), c) AS rn
             FROM ${px}k0) t WHERE rn = 1),
         ${px}ref AS (SELECT cd.sub, cd.c, poss.pos,
             round(avg(cd.sv[poss.pos + 1]), 6) AS cv
           FROM ${px}cd cd CROSS JOIN poss GROUP BY 1, 2, 3),
         ${px}rc AS (SELECT sub, c, list(cv ORDER BY pos) AS rvec
           FROM ${px}ref GROUP BY 1, 2)"""

  /** The ordered 8-term per-subspace MSE sum over a `(sub, mse)` CTE,
    * rounded at 6 (the [[mseSum8]] fold).
    */
  private val mseSum8Sql: String =
    s"round(${(0 until 8).map(i => s"MAX(mse) FILTER (sub = $i)").mkString(" + ")}, 6)"

  /** recall@3 over a [[recallSql]] row, 0 when there is no truth (the
    * [[recallAt3]] guard).
    */
  private val recallAt3Sql: String =
    "CASE WHEN n_truth = 0 THEN 0.0 ELSE round(CAST(n_found AS DOUBLE) / n_truth, 6) END"

  /** The recall counts of an approximate top-3 `$ap(q_id, n_id, …)`
    * against the `$ex(q_id, n_id)` truth: `${name}(…, n_truth,
    * n_found)`, one row per combination of the `levels` (each a
    * `(cte, column)` pair that `$ap` also carries), or one row.
    */
  private def recallSql(name: String, ap: String, ex: String = "ex",
      levels: Seq[(String, String)] = Nil): String = {
    val keys = levels.map { case (t, c) => s"$t.$c" }
    val on = levels.map { case (t, c) => s"a.$c = $t.$c" } ++
      Seq("a.q_id = e.q_id", "a.n_id = e.n_id")
    s"""$name AS (SELECT ${keys.map(_ + ", ").mkString}CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(a.n_id) AS BIGINT) AS n_found
           FROM ${(levels.map(_._1) :+ s"$ex e").mkString(" CROSS JOIN ")}
           LEFT JOIN $ap a ON ${on.mkString(" AND ")}
           ${if (keys.isEmpty) "" else keys.mkString("GROUP BY ", ", ", "")})"""
  }

  /** The aniso residual-rung scaffold of q237/q243/q245/q251: one
    * trained-coarse Lloyd step over the aniso corpus (`w7*`), the
    * fenced queries `qq` with their 16 nearest trained cells ranked
    * (`qa16`, exact coarse dot `cd`), the 4-probe candidates `prs`,
    * the exact-IP truth `ex`, and the identity-layout residual block
    * `ri*` ([[residOpqSqlFor]]).
    */
  private lazy val anisoResidCtes: String = s"""
         $anisoCtes,
         $pqInitCtes,
         ${ivfPqTrainSqlFor("w7", "au")},
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
         ${exactTop3Sql("au")},
         ${residOpqSqlFor("ri", "aimap")}"""

  /** Per-layout RESIDUAL-rung OPQ oracle block (q237): gather the
    * `w7rv` residuals under layout map `mp` (norm > 0, mirroring
    * pqTrainIteration/pqPermMse's usable contract), one-Lloyd
    * refine ([[opqRefineSql]]) into `${px}rc(sub, c, rvec)`,
    * encode every residual against it (`${px}code`), gather the query
    * vectors under the same map (`${px}qsv`), and emit the ADC top-3
    * (`${px}ap` — coarse term added LAST, q229's fold) plus the
    * per-subspace trained-codebook MSE pivoted into the ordered
    * 8-term sum (`${px}m8` — pqPermMse's err = |sv|² + unrounded key
    * at the rounded-argmin). Requires `w7rv`, `prs`, `qq`, `ex`, `pqc`
    * and `poss` in scope.
    */
  private def residOpqSqlFor(px: String, mp: String): String = s"""
         ${opqRefineSql(px, "w7rv", "n_id", "rvecd", mp)},
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
         ${px}m8 AS (SELECT $mseSum8Sql AS resid_mse FROM ${px}me),
         ${recallSql(s"${px}rec", s"${px}ap")}"""

  /** The shared q232/q239 index-rebuild oracle CTEs: frozen
    * base-slice training (ivfPqTrainSqlFor), whole-corpus assignment
    * and residual encode against the frozen artifacts, codes as
    * codebook positions rendered CSV (`ea`, `ecsv`). Both consumers
    * differ only in how the final SELECT labels `src`.
    */
  private lazy val pqIndexEncodeCtes: String = s"""
         $pqInitCtes,
         $baseEmbCtes,
         ${ivfPqTrainSqlFor("b", "eb")},
         $residualCtes,
         ecd AS (SELECT n_id, sub, c FROM (
           SELECT r.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY r.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(
                     list_slice(r.rvecd, b.sub * 8 + 1, b.sub * 8 + 8),
                     b.bvec), 6), b.c) AS rn
           FROM erv r, brcb b) t WHERE rn = 1),
         ${codeCsvSql("brcb")}"""

  /** Each `ecd` code as codebook positions (the rank of its centroid
    * id within its subspace of `$cb`, the Spark side's ordered-list
    * encode) rendered CSV: `ecsv(n_id, code)`.
    */
  private def codeCsvSql(cb: String): String = s"""
         epos AS (SELECT sub, c,
             ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c) - 1 AS p
           FROM $cb),
         ecsv AS (SELECT n_id,
             string_agg(CAST(p AS VARCHAR), ',' ORDER BY ecd.sub) AS code
           FROM ecd JOIN epos ON epos.sub = ecd.sub AND epos.c = ecd.c
           GROUP BY n_id)"""

  /** The oracle twin of [[indexRows]]: each `ea` row with its `ecsv`
    * code, labelled `src`, where `where` holds.
    */
  private def indexRowsSql(
      src: String = s"CASE WHEN ${duckDelta("ea.n_id")} THEN 'delta' ELSE 'base' END",
      where: String = "TRUE"): String = s"""
         SELECT ea.cell, ea.n_id AS vec_id, ecsv.code, $src AS src
         FROM ea JOIN ecsv ON ecsv.n_id = ea.n_id WHERE $where
         ORDER BY vec_id"""

  /** The frozen-OPQ rebuild replay (q242): base training, the
    * [[opqFrozenCtes]] bundle, and every usable vector's residual
    * (`erv`) encoded under its layout `qbmap` and codebook `qrc` as
    * `ecd(n_id, sub, c)`. q246 and q248 serve these rows.
    */
  private lazy val opqIndexEncodeCtes: String = s"""
         $pqInitCtes,
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         $baseEmbCtes,
         ${ivfPqTrainSqlFor("b", "eb")},
         $opqFrozenCtes,
         $residualCtes,
         esv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM erv r CROSS JOIN qbmap m GROUP BY r.n_id, m.sub),
         ecd AS (SELECT n_id, sub, c FROM (
           SELECT s.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY s.n_id, b.sub
               ORDER BY round(list_inner_product(b.rvec, b.rvec)
                 - 2 * list_inner_product(s.sv, b.rvec), 6), b.c) AS rn
           FROM esv s JOIN qrc b ON b.sub = s.sub) t WHERE rn = 1)"""

  /** Serving the [[opqIndexEncodeCtes]] rows (q246's balanced leg,
    * q248): the fenced queries `qq`, their 4 nearest frozen cells with
    * the exact coarse dot (`qac`), the candidates `prs`, the exact-IP
    * truth `ex`, the perm-LUT ADC ranking `brkd` (coarse term added
    * last, q229's fold), its top-3 `bap` and recall `brc`.
    */
  private lazy val opqServeCtes: String = s"""
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
         ${exactTop3Sql("e")},
         bqsv AS (SELECT q.q_id, m.sub,
             list(q.q_vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM qq q CROSS JOIN qbmap m GROUP BY q.q_id, m.sub),
         btm AS (SELECT pr.q_id, pr.n_id, pr.cd, k.sub,
             list_inner_product(qs.sv, r.rvec) AS term
           FROM prs pr
           JOIN ecd k ON k.n_id = pr.n_id
           JOIN qrc r ON r.sub = k.sub AND r.c = k.c
           JOIN bqsv qs ON qs.q_id = pr.q_id AND qs.sub = k.sub),
         brkd AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY
               q_id ORDER BY round(adc, 6) DESC, n_id) AS rank
             FROM (SELECT q_id, n_id, MAX(cd) + ($pqTermPivot) AS adc
               FROM btm GROUP BY q_id, n_id) a),
         bap AS (SELECT q_id, n_id FROM brkd WHERE rank <= 3),
         ${recallSql("brc", "bap")}"""

  /** The exact inner-product re-rank of the top-10 of an ADC ranking
    * `$rkd(q_id, n_id, rank)` over the raw `$corpus(vec_id, vec)`
    * store, as `rr3(q_id, n_id)`. Requires `qq`.
    */
  private def rerank10Sql(rkd: String, corpus: String): String = s"""
         rrx AS (SELECT s.q_id, s.n_id,
             ROW_NUMBER() OVER (PARTITION BY s.q_id
               ORDER BY round(list_inner_product(q.q_vec, c.vec), 6) DESC,
               s.n_id) AS rank
           FROM $rkd s JOIN qq q ON q.q_id = s.q_id
           JOIN $corpus c ON c.vec_id = s.n_id WHERE s.rank <= 10),
         rr3 AS (SELECT q_id, n_id FROM rrx WHERE rank <= 3)"""

  /** Frozen-codebook encode-MSE oracle block (q238/q240): assign
    * `$src` to the frozen `$cent` cells, residuals against them,
    * subvectors gathered under layout map `$mp`, per-subspace argmin
    * against the frozen `$cb` codebook (its centroids in `$cbVec`;
    * rounded key, low c), err = |sv|² + unrounded key
    * ([[Similarity.pqPermMse]]'s arithmetic exactly), ending in
    * `${px}m8(n_vecs, frozen_mse)` — the ordered 8-term per-sub sum.
    */
  private def frozenMseSqlFor(px: String, src: String,
      cent: String = "bcent", cb: String = "brcb", mp: String = "imap",
      cbVec: String = "bvec"): String = s"""
         ${px}as AS (SELECT n_id, n_vec, cvec FROM (
             SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cvec,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
                 c.cell) AS rn
             FROM $src e, $cent c) t WHERE rn = 1),
         ${px}rv AS (SELECT n_id, list_transform(generate_series(1, 64),
             i -> n_vec[i] - cvec[i]) AS rvecd FROM ${px}as),
         ${px}sv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM ${px}rv r CROSS JOIN $mp m
           WHERE list_inner_product(r.rvecd, r.rvecd) > 0
           GROUP BY r.n_id, m.sub),
         ${px}mk AS (SELECT s.n_id, s.sub, s.sv, b.c,
             list_inner_product(b.$cbVec, b.$cbVec)
               - 2 * list_inner_product(s.sv, b.$cbVec) AS key
           FROM ${px}sv s JOIN $cb b ON b.sub = s.sub),
         ${px}mm AS (SELECT n_id, sub,
             list_inner_product(sv, sv) + key AS err FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY n_id, sub
               ORDER BY round(key, 6), c) AS rn FROM ${px}mk) t
           WHERE rn = 1),
         ${px}me AS (SELECT sub, round(avg(err), 6) AS mse,
             COUNT(*) AS nv FROM ${px}mm GROUP BY sub),
         ${px}m8 AS (SELECT CAST(MAX(nv) AS BIGINT) AS n_vecs,
             $mseSum8Sql AS frozen_mse FROM ${px}me)"""

  /** Each `e` vector's nearest trained coarse centroid from `bcent`
    * (`ea`) and its residual from that centroid (`erv.rvecd`): the
    * [[residualFrameOf]] rule in DuckDB.
    */
  private lazy val residualCtes: String =
    """ea AS (SELECT n_id, n_vec, cell, cvec FROM (
           SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.vec, c.cvec), 6) DESC,
               c.cell) AS rn
           FROM e, bcent c) t WHERE rn = 1),
         erv AS (SELECT n_id, cell,
             list_transform(generate_series(1, 64),
               i -> n_vec[i] - cvec[i]) AS rvecd
           FROM ea)"""

  /** Left-associative 8-term ADC sum pivot, shared by every ADC oracle
    * (pins the Spark side's left-to-right subspace fold).
    */
  private val pqTermPivot: String =
    (0 until 8).map(sub => s"MAX(term) FILTER (sub = $sub)").mkString(" + ")

  /** Shared q127/q128 oracle CTEs: IVF cell assignment + PQ encode +
    * the ADC candidate scoring, mirroring `Similarity.pqAdcTopK`
    * exactly — the encode argmin orders by round(c·c − 2·x·c, 6) with
    * centroid-id tie-break (the |x|² term drops out of the argmin),
    * and the ADC sum pins the Spark side's left-to-right subspace fold
    * by pivoting the 8 per-subspace terms into one left-associative
    * addition chain (a plain SUM would leave the FP association to the
    * aggregator's visit order).
    */
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

  /** Oracle mirror of the Spark rank paths' usable-vector contract
    * (NULL/empty/zero-norm vectors never enter a similarity join —
    * 0/0 cosine is NaN and NaN sorts above every number).
    */
  private val usableVec: String =
    """embedding IS NOT NULL AND len(embedding) > 0
       AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"""
      .replaceAll("\n\\s*", " ")

  /** The static coarse centroids (`cent0`), PQ init codebook (`pqc`)
    * and subvector positions (`poss`) every trained-codebook oracle
    * ([[ivfPqTrainSqlFor]]) starts from.
    */
  private lazy val pqInitCtes: String =
    s"""cent0(cell, cvec) AS (VALUES $ivfCentroids),
         pqc(sub, c, pvec) AS (VALUES $pqCentroids),
         poss AS (SELECT unnest(generate_series(0, 7)) AS pos)"""

  /** The frozen residual-OPQ bundle ([[ivfPqOpqTrained]]) in DuckDB,
    * over the base-trained residuals `brv`: the snake layout dealt from
    * their per-dimension variances (`qbmap`) and the one-Lloyd codebook
    * trained under it (`qrc`). Requires `sdims`, `pqc` and `poss`.
    */
  private lazy val opqFrozenCtes: String =
    s"""${snakeLayoutSql("q", "brv", "rvecd", "sdims")},
         ${opqRefineSql("q", "brv", "n_id", "rvecd", "qbmap")}"""

  /** The usable vectors (`e`) and their md5 base slice (`eb`). */
  private lazy val baseEmbCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         eb AS (SELECT * FROM e
           WHERE ${duckBase("vec_id")})"""

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

  /** The exact top-3 truth the ANN recall cards score against: `${px}es`
    * ranks every (`${px}qq` query, `$src` vector) pair, self excluded,
    * by round(score, 6) desc then id, where score is the inner product
    * or, with `cosine`, the cosine; `${px}ex(q_id, n_id)` keeps the top 3.
    */
  private def exactTop3Sql(src: String, px: String = "", id: String = "vec_id",
      vec: String = "vec", cosine: Boolean = false): String = {
    val ip = s"list_inner_product(q.q_vec, cc.$vec)"
    val score = if (!cosine) ip else s"""$ip /
                 (sqrt(list_inner_product(q.q_vec, q.q_vec)) *
                  sqrt(list_inner_product(cc.$vec, cc.$vec)))"""
    s"""${px}es AS (SELECT q.q_id, cc.$id AS n_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
               ORDER BY round($score, 6) DESC,
               cc.$id) AS rank
           FROM ${px}qq q, $src cc WHERE q.q_id <> cc.$id),
         ${px}ex AS (SELECT q_id, n_id FROM ${px}es WHERE rank <= 3)"""
  }

  val oracleSql: Map[String, String] = Map(
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
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 50),
         ${exactTop3Sql("e", cosine = true)},
         ap AS (SELECT q_id, n_id FROM rk WHERE rank <= 3)
         SELECT ex.q_id, COUNT(ap.n_id) AS n_hits,
           round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
         FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
         GROUP BY ex.q_id ORDER BY ex.q_id""",
    "q76_ann_recall" -> s"""
         WITH planes(bit, pvec) AS (VALUES $lshPlanes),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 50),
         ${exactTop3Sql("e", cosine = true)},
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
         SELECT ex.q_id, COUNT(ap.n_id) AS n_hits,
           round(COUNT(ap.n_id) / 3.0, 6) AS recall_at_3
         FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
         GROUP BY ex.q_id ORDER BY ex.q_id""",
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
         ${exactTop3Sql("c", id = "n_id", vec = "n_vec", cosine = true)},
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
         ap AS (SELECT p, q_id, n_id FROM rp WHERE rank <= 3),
         ${recallSql("rc", "ap", levels = Seq("probes" -> "p"))}
         SELECT CAST(p AS BIGINT) AS n_probe, n_truth AS n_exact, n_found,
           round(CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall
         FROM rc ORDER BY n_probe""",
    "q127_pq_ann" -> s"""
         WITH $pqAdcCtes
         SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, round(adc, 6) AS adc
         FROM adcr WHERE rank <= 3 ORDER BY q_id, rank""",
    "q128_pq_recall" -> s"""
         WITH $pqAdcCtes,
         ap AS (SELECT q_id, n_id FROM adcr WHERE rank <= 3),
         ${exactTop3Sql("c", id = "n_id", vec = "n_vec")}
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
    "q134_truncation_recall" -> s"""
         WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         qq AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 50),
         ${exactTop3Sql("e", cosine = true)},
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
         ap AS (SELECT td, q_id, n_id FROM rp WHERE rank <= 3),
         ${recallSql("rc", "ap", levels = Seq("dims" -> "td"))}
         SELECT CAST(td AS BIGINT) AS trunc_dim, n_truth AS n_exact, n_found,
           round(CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall
         FROM rc ORDER BY trunc_dim""",
    "q135_stream_semantic" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         asg AS (SELECT vec_id, vec, cell FROM (
           SELECT vec_id, vec, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM e, cent) t WHERE rn = 1),
         dl AS (SELECT * FROM asg
           WHERE ${duckDelta("vec_id")}),
         bs AS (SELECT * FROM asg
           WHERE ${duckBase("vec_id")}),
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
         ${exactTop3Sql("e")}
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
           CASE WHEN ${duckDelta("vec_id")}
                THEN 'delta' ELSE 'base' END AS src
         FROM ca ORDER BY vec_id""",
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
    "q154_centroid_drift" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         ${quantCellMeanCtes("b",
           duckBase("vec_id"))},
         ${quantCellMeanCtes("d",
           duckDelta("vec_id"))},
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
         , $pqInitCtes,
         ${Seq(("ai", "aimap"), ("ab", "abmap")).map { case (px, mp) => s"""
         ${opqRefineSql(px, "au", "vec_id", "vec", mp)},
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
    // OPQ deployed recall: layouts + trained codebooks re-derived by
    // the shared q184 chain, then the full ADC scan (q136's CTEs)
    // under each layout against one exact-IP truth side
    "q197_opq_recall" -> s"""
         WITH $anisoCtes
         , $pqInitCtes,
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
         ${exactTop3Sql("au", px = "o")},
         ${Seq(("ai", "aimap"), ("ab", "abmap")).map { case (px, mp) => s"""
         ${opqRefineSql(px, "au", "vec_id", "vec", mp)},
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
    // exact cosine truth over the full corpus (q25's CTEs), then
    // q44's IVF scan twice off one shared assignment/sim CTE — the
    // stale side filters the delta vectors out of the candidate set
    "q213_index_staleness" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         iau AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         iqq AS (SELECT vec_id AS q_id, vec AS q_vec FROM iau
           WHERE vec_id < 50),
         ${exactTop3Sql("iau", px = "i", cosine = true)},
         ica AS (SELECT n_id, n_vec, cell, is_delta FROM (
           SELECT a.vec_id AS n_id, a.vec AS n_vec, cell,
             ${duckDelta("a.vec_id")} AS is_delta,
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
         SELECT iex.q_id,
           CAST(COUNT(ist.n_id) AS BIGINT) AS stale_hits,
           CAST(COUNT(imt.n_id) AS BIGINT) AS maintained_hits,
           round(CAST(COUNT(ist.n_id) AS DOUBLE) / COUNT(*), 6)
             AS stale_recall,
           round(CAST(COUNT(imt.n_id) AS DOUBLE) / COUNT(*), 6)
             AS maintained_recall,
           CAST(COUNT(imt.n_id) - COUNT(ist.n_id) AS BIGINT) AS gain
         FROM iex
         LEFT JOIN ist ON ist.q_id = iex.q_id AND ist.n_id = iex.n_id
         LEFT JOIN imt ON imt.q_id = iex.q_id AND imt.n_id = iex.n_id
         GROUP BY iex.q_id ORDER BY iex.q_id""",
    // q44's assignment CTEs + the q25 exact-cosine truth side, one leg
    // per probe level (candidate count + recall), then the rounded-
    // column cost ordering and the argmin pick
    "q216_ivf_operating_point" -> s"""
         WITH cent(cell, cvec) AS (VALUES $ivfCentroids),
         oau AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
           WHERE $usableVec),
         oqq AS (SELECT vec_id AS q_id, vec AS q_vec FROM oau
           WHERE vec_id < 50),
         ${exactTop3Sql("oau", px = "o", cosine = true)},
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
         ${recallSql(s"op${p}rc", s"op${p}ap", "oex")},
         op${p}row AS (SELECT CAST($p AS BIGINT) AS n_probe, n_candidates,
             round(CAST(n_candidates AS DOUBLE) / (nq * (nc - 1)), 6)
               AS scan_frac,
             round(CAST(n_found AS DOUBLE) / n_truth, 6) AS recall
           FROM op${p}cnt, op${p}rc, osc)""").mkString(",")},
         oall AS (${Seq(1, 2, 4, 8, 16)
           .map(p => s"SELECT * FROM op${p}row").mkString(" UNION ALL ")})
         SELECT n_probe, n_candidates, scan_frac, recall,
           round(1.0 - recall + scan_frac, 6) AS total_cost,
           CAST(CASE WHEN ROW_NUMBER() OVER (
             ORDER BY (1.0 - recall + scan_frac), n_probe) = 1
             THEN 1 ELSE 0 END AS BIGINT) AS picked
         FROM oall ORDER BY n_probe""",
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
         ${exactTop3Sql("e")},
         ncd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM prs),
         ${recallSql("fs", "fap")},
         ${recallSql("rs", "rap")}
         SELECT 'flat_pq' AS variant, n_truth, n_found,
           $recallAt3Sql AS recall_at_3, n_candidates
         FROM fs, ncd
         UNION ALL
         SELECT 'ivfpq_residual' AS variant, n_truth, n_found,
           $recallAt3Sql AS recall_at_3, n_candidates
         FROM rs, ncd
         ORDER BY variant""",
    // FULL rebuild replay under FROZEN base-trained artifacts: train
    // coarse cells + residual codebook on the base md5 slice only
    // (the shared training generator), then encode EVERY usable
    // vector against them — codes emitted as codebook POSITIONS
    // (rank of the centroid id within its subspace, mirroring the
    // Spark side's ordered-list encode) and rendered CSV
    "q232_stream_pq_index" -> s"""
         WITH $pqIndexEncodeCtes
         ${indexRowsSql()}""",
    // the q232 frozen-artifact replay (base training + whole-corpus
    // encode), then the q229 ADC query path run twice — once against
    // the base-only rows (stale), once against everything
    // (maintained) — against the full-corpus exact-IP truth
    "q234_pq_staleness" -> s"""
         WITH $pqIndexEncodeCtes,
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
           WHERE ${duckBase("n_id")}) t WHERE rank <= 3),
         ${exactTop3Sql("e")},
         sh AS (SELECT ex.q_id, CAST(COUNT(s.n_id) AS BIGINT) AS stale_hits
           FROM ex LEFT JOIN sap s ON ex.q_id = s.q_id AND ex.n_id = s.n_id
           GROUP BY ex.q_id),
         mh AS (SELECT ex.q_id, CAST(COUNT(m.n_id) AS BIGINT) AS maint_hits,
             CAST(COUNT(m.n_id) FILTER (
               ${duckDelta("m.n_id")}) AS BIGINT) AS maint_delta_hits,
             CAST(COUNT(*) FILTER (
               ${duckDelta("ex.n_id")}) AS BIGINT) AS n_truth_delta
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
         WITH $pqInitCtes,
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
         ${exactTop3Sql("e")},
         cost AS (SELECT probes.p,
             CAST(COUNT(pr.n_id) AS BIGINT) AS n_candidates
           FROM probes LEFT JOIN prs pr ON pr.crank <= probes.p
           GROUP BY probes.p),
         ${recallSql("rc", "ap", levels = Seq("probes" -> "p"))}
         SELECT CAST(rc.p AS BIGINT) AS n_probe, cost.n_candidates, n_truth,
           n_found, $recallAt3Sql AS recall_at_3
         FROM rc JOIN cost ON cost.p = rc.p ORDER BY n_probe""",
    // the aniso rehearsal corpus, one trained-coarse Lloyd step, the
    // RESIDUAL-variance snake layout, then the per-layout residual
    // train/encode/ADC/MSE blocks (residOpqSqlFor) against the shared
    // trained-cell routing and exact-IP truth
    "q237_residual_opq" -> s"""
         WITH $anisoResidCtes,
         ${snakeLayoutSql("r", "w7rv", "rvecd", "adims")},
         ${residOpqSqlFor("rb", "rbmap")}
         SELECT 'balanced' AS layout, n_truth, n_found,
           $recallAt3Sql AS recall_at_3, resid_mse
         FROM rbrec, rbm8
         UNION ALL
         SELECT 'identity', n_truth, n_found,
           $recallAt3Sql,
           resid_mse
         FROM rirec, rim8
         ORDER BY layout""",
    // frozen base-trained artifacts (the q232 training replay), then
    // the frozenMseSqlFor block per slice: base / md5-delta /
    // encoder-drifted delta (dims 0-7 x4), ratio'd against base
    "q238_pq_retrain" -> s"""
         WITH $pqInitCtes,
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         $baseEmbCtes,
         ed AS (SELECT * FROM e
           WHERE ${duckDelta("vec_id")}),
         esh AS (SELECT vec_id,
             list(vec[dim + 1] * CASE WHEN dim < 8 THEN 4.0 ELSE 1.0 END
               ORDER BY dim) AS vec
           FROM ed CROSS JOIN sdims GROUP BY vec_id),
         ${identityMapSql("imap", "sdims")},
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
         ${indexRowsSql(src = """CASE
             WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1) = '0'
               THEN 'delta1'
             WHEN substr(md5(CAST(ea.n_id AS VARCHAR)), 1, 1)
               IN ('1', '2') THEN 'delta2'
             ELSE 'base' END""")}""",
    // q238's slices, frozen vs post-drift-retrained artifacts
    // (identity + residual-variance OPQ), all scoring the shifted
    // slice, ratio'd against the base-frozen reference
    "q240_pq_retrain_ladder" -> s"""
         WITH $pqInitCtes,
         sdims AS (SELECT unnest(generate_series(0, 63)) AS dim),
         $baseEmbCtes,
         ed AS (SELECT * FROM e
           WHERE ${duckDelta("vec_id")}),
         esh AS (SELECT vec_id,
             list(vec[dim + 1] * CASE WHEN dim < 8 THEN 4.0 ELSE 1.0 END
               ORDER BY dim) AS vec
           FROM ed CROSS JOIN sdims GROUP BY vec_id),
         em AS (SELECT * FROM eb UNION ALL SELECT * FROM esh),
         ${identityMapSql("imap", "sdims")},
         ${ivfPqTrainSqlFor("b", "eb")},
         ${ivfPqTrainSqlFor("r", "em")},
         ${frozenMseSqlFor("fb", "eb")},
         ${frozenMseSqlFor("fs", "esh")},
         ${frozenMseSqlFor("rt", "esh", "rcent", "rrcb")},
         ${snakeLayoutSql("m", "rrv", "rvecd", "sdims")},
         ${opqRefineSql("o", "rrv", "n_id", "rvecd", "mbmap")},
         ${frozenMseSqlFor("om", "esh", "rcent", "orc", "mbmap", "rvec")}
         SELECT 'frozen' AS regime, n_vecs, frozen_mse AS shifted_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6)
             AS mse_ratio
         FROM fsm8
         UNION ALL
         SELECT 'retrained', n_vecs, frozen_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6)
         FROM rtm8
         UNION ALL
         SELECT 'retrained_opq', n_vecs, frozen_mse,
           round(frozen_mse / (SELECT frozen_mse FROM fbm8), 6)
         FROM omm8
         ORDER BY regime""",
    // the q232 rebuild replay with the frozen OPQ bundle: base
    // training, the layout dealt from the BASE residual variances
    // (q240's snake rule on brv), the codebook trained UNDER the
    // perm on the base residuals, then a whole-corpus perm-gathered
    // encode — maintenance == rebuild with the permutation carried
    "q242_stream_opq_index" -> s"""
         WITH $opqIndexEncodeCtes,
         ${codeCsvSql("qrc")}
         ${indexRowsSql()}""",
    // the q237 identity-leg scaffold (aniso corpus, trained coarse
    // routing, identity residual codebook, fenced exact-IP truth),
    // the ADC ranks kept to 10 for the shortlist, then the exact
    // inner-product re-rank over the shortlist's raw vectors
    "q243_adc_rerank" -> s"""
         WITH $anisoResidCtes,
         ${rerank10Sql("rirkd", "au")},
         ${recallSql("rrrec", "rr3")}
         SELECT 'adc' AS leg, CAST(3 AS BIGINT) AS k_short, n_truth,
           n_found,
           $recallAt3Sql AS recall_at_3
         FROM rirec
         UNION ALL
         SELECT 'adc_rerank', 10, n_truth, n_found,
           $recallAt3Sql
         FROM rrrec
         ORDER BY leg""",
    // the q243 scaffold with the ADC ranks kept to the max level;
    // one exact-dot frame over the max shortlist, each level a rank
    // filter + its own re-rank window + recall/cost aggregates
    "q245_rerank_operating_point" -> s"""
         WITH $anisoResidCtes,
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
         ${recallSql("rrc", "rt", levels = Seq("lvl" -> "k_short"))}
         SELECT CAST(r.k_short AS BIGINT) AS k_short, n_truth, n_found,
           $recallAt3Sql AS recall_at_3, n_exact
         FROM rrc r JOIN rne n USING (k_short) ORDER BY k_short""",
    // the q242 frozen-bundle replay (train + layout deal + codebook
    // + whole-corpus encode under BOTH layouts), then each layout's
    // LUT-style ADC over the SAME frozen-cell candidates against the
    // fenced full-corpus exact-IP truth
    "q246_opq_index_serving" -> s"""
         WITH $opqIndexEncodeCtes,
         $opqServeCtes,
         ${identityMapSql("imap", "sdims")},
         iesv AS (SELECT r.n_id, m.sub,
             list(r.rvecd[m.dim + 1] ORDER BY m.pos) AS sv
           FROM erv r CROSS JOIN imap m GROUP BY r.n_id, m.sub),
         icd AS (SELECT n_id, sub, c FROM (
           SELECT s.n_id, b.sub, b.c,
             ROW_NUMBER() OVER (PARTITION BY s.n_id, b.sub
               ORDER BY round(list_inner_product(b.bvec, b.bvec)
                 - 2 * list_inner_product(s.sv, b.bvec), 6), b.c) AS rn
           FROM iesv s JOIN brcb b ON b.sub = s.sub) t WHERE rn = 1),
         iqsv AS (SELECT q.q_id, m.sub,
             list(q.q_vec[m.dim + 1] ORDER BY m.pos) AS sv
           FROM qq q CROSS JOIN imap m GROUP BY q.q_id, m.sub),
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
         ${recallSql("irc", "iap")}
         SELECT 'balanced' AS layout, n_truth, n_found,
           $recallAt3Sql AS recall_at_3
         FROM brc
         UNION ALL
         SELECT 'identity', n_truth, n_found, $recallAt3Sql
         FROM irc
         ORDER BY layout""",
    // the q246 balanced-leg replay with the ADC ranks kept to the
    // k'=10 shortlist, then the exact inner-product re-rank over the
    // raw-vector store (one id-keyed gather of the shortlist)
    "q248_serving_stack" -> s"""
         WITH $opqIndexEncodeCtes,
         $opqServeCtes,
         ${rerank10Sql("brkd", "e")},
         ${recallSql("rrc", "rr3")}
         SELECT 'adc_index' AS leg, CAST(3 AS BIGINT) AS k_short,
           n_truth, n_found, $recallAt3Sql AS recall_at_3
         FROM brc
         UNION ALL
         SELECT 'adc_index_rerank', 10, n_truth, n_found, $recallAt3Sql
         FROM rrc
         ORDER BY leg""",
    // the q232 rebuild replay restricted to the retained population:
    // deletion under frozen artifacts commutes with the per-row
    // deterministic encode, so retained == rebuild row-for-row
    "q249_pq_index_tombstones" -> s"""
         WITH $pqIndexEncodeCtes
         ${indexRowsSql(where = s"NOT ${duckTombstoned("ea.n_id")}")}""",
    // the q243 scaffold with crank-aware candidates (keep = 16), the
    // identity trained codebook from residOpqSqlFor, one ADC frame
    // over all candidates, then each (n_probe, k_short) grid cell is
    // a (crank, rank) filter + its own exact re-rank + recall/cost
    "q251_ann_operating_grid" -> s"""
         WITH $anisoResidCtes,
         prsw AS (SELECT qa16.q_id, qa16.cd, qa16.crank, ca.n_id
           FROM qa16 JOIN w7ca ca USING (cell)
           WHERE qa16.q_id <> ca.n_id),
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
         ${recallSql("swrec", "swtop",
           levels = Seq("pgrid" -> "n_probe", "kgrid" -> "k_short"))}
         SELECT CAST(r.n_probe AS BIGINT) AS n_probe,
           CAST(r.k_short AS BIGINT) AS k_short,
           c.n_candidates, ne.n_exact, r.n_truth, r.n_found,
           $recallAt3Sql AS recall_at_3
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
}
