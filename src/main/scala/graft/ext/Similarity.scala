package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding
  * columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline: broadcast the (small)
  * query set against the corpus — a broadcast nested-loop the optimizer
  * pipelines into the corpus scan; per-row work is a codegen'd
  * zip_with/aggregate dot product, no UDF.
  *
  * The scale path is [[lshTopK]]: sign-random-hyperplane LSH buckets
  * turn the search into an equi-join on bucket signature, so the
  * shuffle is keyed and the candidate set per query is small. Planes
  * are derived deterministically from md5 so any engine (and the test
  * oracle) can reproduce them.
  */
object Similarity {

  /** Sequential left-fold dot product — the single definition every
    * rank path shares, so the bit-determinism claim (same fold order
    * as the oracle's list_inner_product) has exactly one place to hold.
    *
    * Compiled as the codegen'd [[graft.etl.expressions.DotFold]]
    * kernel (round 18, guide §4): value-identical to the former
    * `aggregate(zip_with(x, y, (p, q) => p * q), 0D, (acc, v) => acc + v)`
    * — same IEEE accumulation order, same null/length semantics —
    * but a primitive loop instead of ~2·dim interpreted lambda
    * invocations per call. Pinned ≡ the HOF fold in Wave30Spec.
    */
  private def dot(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.DotFold(
        org.apache.spark.sql.GraftBridge.expression(x),
        org.apache.spark.sql.GraftBridge.expression(y)))

  /** Public form of [[dot]] for the composition sites in the query
    * registry (usable-vector norm filters, rerank exact dots) — one
    * kernel definition everywhere.
    */
  def dotFold(x: Column, y: Column): Column = dot(x, y)

  /** Element-wise difference — the residual-encode step (vec −
    * centroid) of every IVF-PQ build/maintenance/search path.
    * Compiled as the codegen'd [[graft.etl.expressions.VecSub]]
    * kernel (round 18, guide §4): value-identical to the former
    * `zip_with(a, b, (x, y) => x - y)` — same null/padding semantics,
    * same IEEE subtraction per element — but one primitive loop
    * instead of an interpreted lambda invocation per element. Pinned
    * ≡ the HOF form in Wave30Spec.
    */
  def vecSub(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.VecSub(
        org.apache.spark.sql.GraftBridge.expression(x),
        org.apache.spark.sql.GraftBridge.expression(y)))

  /** One TYPED array literal instead of CreateArray over `dim` scalar
    * literals (round 18): value-identical — CreateArray of foldable
    * children constant-folds to exactly this Literal — but the
    * expression tree carries 1 node instead of dim+1, which cuts
    * analysis/optimizer/codegen time on the centroid/codebook-heavy
    * ANN plans (16 cells × 64 dims × several consumers per query).
    */
  private[ext] def litArr(vs: Seq[Double]): Column = lit(vs.toArray)

  /** Fused PQ-encode argmin over an ordered centroid list — ONE node
    * replacing `array_min(array(nCents × struct(round(|c|²−2·sv·c,6),
    * i))).i` (round 19, guide §4; see [[bestCells]] for the
    * codegen-size rationale). Returns the POSITION in `cents` order;
    * same rounded-key/low-position tie discipline, pinned bit-for-bit
    * in Wave31Spec.
    */
  private def pqArgminOf(sv: Column, cents: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.PqArgmin(
        org.apache.spark.sql.GraftBridge.expression(sv), cents))

  /** Fused `dot(sv,sv) + (unrounded key at the rounded argmin)` — the
    * PQ reconstruction error term of the MSE reports, one node.
    */
  private def pqMinErrOf(sv: Column, cents: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.PqMinErr(
        org.apache.spark.sql.GraftBridge.expression(sv), cents))

  /** Fused query-side ADC LUT (m × nCents dots) — one node replacing
    * the m × nCents composed `dot_fold(slice/gather, literal)` forest.
    * Subspace `sub` reads the dimensions [[subVec]] reads under `perm`:
    * contiguous with slice's null-on-short semantics for `None`, the
    * perm's with element_at's ANSI throw-on-short semantics otherwise.
    */
  private def pqLutOf(v: Column, codebook: Map[Int, Seq[Seq[Double]]],
      m: Int, subDim: Int, perm: Option[Seq[Int]]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.PqLut(
        org.apache.spark.sql.GraftBridge.expression(v),
        (0 until m).map(codebook), (0 until m).map(subDims(perm, _, subDim)),
        perm.isDefined))

  /** Index-conditional scale, compiled — value-identical to
    * `transform(v, (x, i) => x * when(i < n, factor).otherwise(1.0))`
    * (the anisotropic/OPQ weighting of the q237 family). The HOF form
    * was an interpreted CodegenFallback lambda that ProjectCollapse/
    * pushdown duplicated up to 6× inside single Filter conditions
    * (VERDICT r18 #1); the compiled kernel is cheap per copy and,
    * unlike lambda expressions, eligible for whole-stage-codegen
    * subexpression elimination. Pinned ≡ the HOF form in Wave31Spec.
    */
  def indexWeight(v: Column, n: Int, factor: Double): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.IndexWeight(
        org.apache.spark.sql.GraftBridge.expression(v), n, factor))

  /** Cosine similarity of two double-array columns (sequential left
    * fold → bit-deterministic across engines).
    *
    * Inside the top-k joins the norms are NOT computed through this
    * (it would re-fold dot(a,a)/dot(b,b) for every candidate pair —
    * 3 dim-length folds per pair instead of 1); each side projects its
    * norm once and the pair work is a single dot. Value-identical:
    * same fold, same sqrt, just evaluated per row instead of per pair.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** sqrt(dot(v, v)) — per-side norm projection for the pair stages. */
  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** Exact brute-force cosine top-k.
    *
    * @param queries frame with (qCol id, vecCol array<float>) — SMALL
    *                (broadcast); @param corpus (idCol, vecCol).
    * Ties broken by corpus id; self-pairs excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0))
    val c = corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    q.crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic pseudo-random component in [-0.5, 0.5) derived from
    * md5 of a seed string. Computed DRIVER-SIDE — these constants
    * depend only on their indices, so hashing them per row (the former
    * in-plan md5/conv form) re-derived the same values for every
    * vector: ~512 md5+hex-parse calls per row, ~2 M for the
    * 2 k-embedding bench table. Value-identical to
    * `conv(substring(md5(seed),1,6),16,10)/16777216 - 0.5`, so any
    * engine can reproduce them for oracle checks.
    */
  private def hashVal(seed: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(seed.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 6), 16).toDouble / 16777216.0 - 0.5
  }

  /** Component i of sign-LSH hyperplane `p` (deterministic; public so
    * the oracle SQL can inline the same constants, like [[centroidVal]]).
    */
  def planeVal(p: Int, i: Int): Double = hashVal(s"plane-$p-$i")

  /** Component i of IVF coarse centroid `cell` (deterministic). */
  def centroidVal(cell: Int, i: Int): Double = hashVal(s"centroid-$cell-$i")

  /** Entry (p, i) of the random ±1 sign-projection matrix
    * (deterministic; public so the oracle SQL can inline the same
    * constants, like [[planeVal]]).
    */
  def signVal(p: Int, i: Int): Double = if (hashVal(s"signproj-$p-$i") >= 0) 1.0 else -1.0

  /** Johnson–Lindenstrauss sign projection: `outDim` components, each
    * the ±1-weighted sum of the input scaled by 1/sqrt(dim) (Achlioptas
    * 2003's database-friendly projection — expected pairwise distances
    * are preserved, no Gaussian sampling needed). Components are
    * returned in MICRO-units (×1e6, rounded, long) so the CSV-string
    * rendering the driver's compare needs (q31/q81 discipline) never
    * hits cross-engine double formatting. The matrix rows are
    * constant-folded literal arrays: pure per-row work, scan-speed at
    * any corpus size.
    */
  def signProjectMicro(vec: Column, outDim: Int, dim: Int): Column = {
    val v = vec.cast("array<double>")
    val scale = math.sqrt(dim.toDouble)
    array((0 until outDim).map { p =>
      val row = litArr((0 until dim).map(i => signVal(p, i)))
      // dot == the former aggregate(zip_with(v,row,*),0D,+) HOF fold,
      // compiled (DotFold, round 18): outDim interpreted lambda passes
      // per row become outDim primitive loops (guide §4)
      round(dot(v, row) / scale * 1e6).cast("long")
    }: _*)
  }

  /** Sign-LSH bucket signature (nPlanes bits) for a `dim`-dimensional
    * vector column; planes are constant-folded literal arrays.
    */
  def lshSignature(vec: Column, nPlanes: Int, dim: Int): Column = {
    val v = vec.cast("array<double>")
    (0 until nPlanes).map { p =>
      val plane = litArr((0 until dim).map(i => planeVal(p, i)))
      // dot == the former aggregate(zip_with(v,plane,*),0D,+) HOF fold,
      // compiled (DotFold, round 18): the signature is evaluated once
      // per corpus row AND once per query/delta row in every LSH path
      // (lshTopK, q36, q102/q114, streaming sig ingest), each paying
      // nPlanes interpreted lambda passes before this (guide §4)
      val proj = dot(v, plane)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Bucketed ANN: candidates = same LSH bucket (equi-join), then exact
    * cosine re-rank within the bucket. Recall < 1 by design; this is
    * the 100 TB-scale path (shuffle keyed by signature).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int = 8): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      lshSignature(col(vecCol), nPlanes, dim).as("sig"))
      .filter(col("q_vec").isNotNull && size(col("q_vec")) > 0)
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0)
    val c = corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"),
      lshSignature(col(vecCol), nPlanes, dim).as("sig"))
      .filter(col("n_vec").isNotNull && size(col("n_vec")) > 0)
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    q.join(c, Seq("sig"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** First non-empty vector's length — a limit-1 probe, not a full
    * scan. An empty (or all-NULL-vector) input returns 1 so plan
    * construction still succeeds; every downstream join over such an
    * input is empty anyway (NULL/empty vectors are filtered out before
    * signature/cell assignment in lshTopK / ivfTopK / kmeansIteration,
    * so they never enter a join with NULL sims), where the former
    * `head()` threw on empty input and NPE'd on a NULL probe row.
    */
  private def probeDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .take(1).headOption.map(_.getInt(0)).getOrElse(1)

  /** Symmetric per-vector int8 scale: max |x_i|. Paired with
    * [[quantizeInt8]] this shrinks an fp32 embedding corpus 4x before
    * storage/ANN — pure per-row arithmetic on codegen'd builtins, no
    * shuffle, so it streams at scan speed at any corpus size.
    */
  def int8Scale(vec: Column): Column =
    // == the former aggregate(v, 0D, (a,x) => greatest(a, abs(x)))
    // HOF fold, compiled (MaxAbsFold, round 18, guide §4): same
    // null-skip/NaN-greatest semantics, pinned in Wave30Spec
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.MaxAbsFold(
        org.apache.spark.sql.GraftBridge.expression(
          vec.cast("array<double>"))))

  /** q_i = round(x_i * 127 / scale) — the int8 code for each element.
    * Callers project the scale ONCE and pass it in (lambda expressions
    * are exempt from subexpression elimination; recomputing the scale
    * inside would double the per-element work).
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    // == the former transform(v, x => when(scale > 0,
    // round(x*127/scale).cast("int")).otherwise(0)) interpreted
    // lambda, compiled (QuantizeInt8, round 18, guide §4): same
    // round-HALF_UP / null-scale→0 semantics and the same ANSI
    // throwing double→int cast (Spark 4 default) — NOTE the kernel
    // PINS the ANSI behavior (GraftBridge.ansiDoubleToInt) regardless
    // of spark.sql.ansi.enabled, unlike the HOF form whose cast
    // followed the session config (ADVICE r18: equivalence to the
    // HOF form holds under the default ansi=true, which every entry
    // point here runs). Pinned in Wave30Spec incl. throw parity
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.QuantizeInt8(
        org.apache.spark.sql.GraftBridge.expression(
          vec.cast("array<double>")),
        org.apache.spark.sql.GraftBridge.expression(scale.cast("double"))))

  /** Exact integer dot product of two int-code array columns, in LONG
    * arithmetic — no floating point until the final normalization, so
    * the value is bit-identical on any engine. |code_i| <= 127 bounds
    * each product at 16 129; overflow would need a ~5.7e14-dimensional
    * vector.
    */
  private def dotInt(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.DotFoldLong(
        org.apache.spark.sql.GraftBridge.expression(x.cast("array<long>")),
        org.apache.spark.sql.GraftBridge.expression(y.cast("array<long>"))))

  /** The (cell, id, code, scale, cnorm) frame a quantized-IVF ANN
    * deployment persists as its INDEX — int8 encode + code-space
    * argmax cell assignment, exactly [[quantizedIvfTopK]]'s corpus
    * side factored public so the index is buildable (and incrementally
    * maintainable — q137 appends per-micro-batch slices of this frame)
    * without running a search. At 100 TB this table IS the corpus
    * build's ANN-index output: codes + scales only, the fp32 vectors
    * are gone after quantization (4x smaller shards); the only
    * non-scan work is the bounded nCells-row centroid broadcast, so
    * the build streams at scan speed and appending a delta batch costs
    * |batch| x nCells, independent of corpus size.
    */
  def quantizedIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val cents = centroidSeq(nCells, dim)
    val qz = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("scale0", int8Scale(col("v")))
      // == the former filter(cnorm > 0), row-for-row: scale0 > 0 ⟹
      // the max-|x| element quantizes to round(±127) = ±127 ⟹
      // cnorm ≥ 127; scale0 = 0 ⟹ all codes 0 ⟹ cnorm = 0; NaN
      // scale0 counts as > 0 (Spark comparison) and the encode throws
      // on evaluation either way. The dot_fold(v,v) IS NOT NULL
      // conjunct (ADVICE r18) closes the one gap: int8Scale SKIPS
      // null elements (scale0 > 0 can pass) while any null element
      // nulls dotInt and so cnorm — the old filter dropped such rows;
      // dot_fold nulls on exactly the null-element rows (pinned with
      // a null-element row in Wave30Spec). Filtering BEFORE the
      // encode keeps the predicate the optimizer pushes below this
      // project to two compiled folds instead of the substituted
      // sqrt(dot(quantize, quantize)) monster — which, once the
      // encode kernels became codegen-able, dominated the stage's
      // whole-stage-codegen COMPILE time at bench scale (round 18;
      // at corpus scale it also halves the per-row filter work)
      .filter(col("scale0") > 0 && dot(col("v"), col("v")).isNotNull)
      .select(col("id"), quantizeInt8(col("v"), col("scale0")).as("code"),
        col("scale0").as("scale"))
      .withColumn("cnorm", sqrt(dotInt(col("code"), col("code")).cast("double")))
    qz.withColumn("cell",
        bestCellOf(col("code").cast("array<double>"), cents))
      .select(col("cell"), col("id"), col("code"), col("scale"), col("cnorm"))
  }

  /** IVF ANN over int8-quantized codes — the consumer of
    * [[int8Scale]]/[[quantizeInt8]] (q81's storage shrink becomes a
    * search path). Both sides are quantized; candidate scoring is a
    * pure INTEGER dot product over the codes (the SIMD-int8 kernel a
    * 100 TB deployment runs against 4x-smaller shards), normalized by
    * the per-side integer code norms — code-space cosine is scale-free
    * because the positive per-vector scales cancel. The reconstructed
    * fp dot product (`dot_rec` = ip * a_scale/127 * b_scale/127) is
    * also emitted to exercise the stored-scale rescale path.
    *
    * Cell assignment runs in code space too (argmax rounded
    * code·centroid, cell-asc tie-break): at scale the index holds ONLY
    * codes + scales — fp32 vectors are gone after quantization — and
    * within one vector the positive scale cannot change its argmax
    * cell. Same bounded-broadcast NLJ + keyed cell equi-join shape as
    * [[ivfTopK]]; recall loss vs fp32 is measured by the recall query
    * (q97), exactly as q76 gates the LSH path.
    */
  def quantizedIvfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val cents = centroidSeq(nCells, dim)

    // (id, code, scale, cnorm): per-row quantization, no shuffle.
    // scale0 = 0 yields an all-zero code -> cnorm 0 -> dropped (cosine
    // undefined), mirroring the zero-norm discipline of the fp paths.
    def quantize(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as("v"))
        .filter(col("v").isNotNull && size(col("v")) > 0)
        .withColumn("scale0", int8Scale(col("v")))
        // == filter(cnorm > 0) row-for-row — see [[quantizedIndex]]
        // (incl. the ADVICE-r18 null-element conjunct)
        .filter(col("scale0") > 0 && dot(col("v"), col("v")).isNotNull)
        .select(col(id), quantizeInt8(col("v"), col("scale0")).as("code"),
          col("scale0").as("scale"))
        .withColumn("cnorm", sqrt(dotInt(col("code"), col("code")).cast("double")))

    def assign(df: DataFrame, keep: Int): DataFrame =
      df.withColumn("bc",
          explode(bestCells(col("code").cast("array<double>"), cents, keep)))
        .withColumn("cell", col("bc").getField("cell"))
        .drop("bc")

    // corpus side IS the persisted index frame (same plan as before
    // the quantizedIndex factoring: per-row encode + bounded centroid
    // broadcast — the search scans what the index build writes)
    val c = quantizedIndex(corpus, idCol, vecCol, nCells)
      .select(col("cell"), col("id").as("n_id"), col("code").as("n_code"),
        col("scale").as("n_scale"), col("cnorm").as("n_norm"))
    val q = assign(quantize(queries, "q_id"), nProbe)
      .select(col("cell"), col("q_id"), col("code").as("q_code"),
        col("scale").as("q_scale"), col("cnorm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("ip", dotInt(col("q_code"), col("n_code")))
      .withColumn("sim", col("ip").cast("double") / (col("q_norm") * col("n_norm")))
      .withColumn("dot_rec",
        col("ip").cast("double") * col("q_scale") * col("n_scale") / lit(127.0 * 127.0))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("sim"), 6).as("sim"), round(col("dot_rec"), 6).as("dot_rec"))
  }

  /** One Lloyd (k-means) refinement iteration over the deterministic
    * coarse centroids — the "training" step that adapts the static IVF
    * cells ([[ivfTopK]]) to the data. Assignment is the same bounded
    * broadcast-NLJ (nCells rows broadcast, argmax rounded dot); the
    * update is posexplode + aggregate, so the only shuffle is keyed by
    * (cell, dim-position) with map-side partial sums — no driver-side
    * vectors, distributes at any corpus size.
    *
    * Output is LONG-FORM — one row per (cell, pos) with the
    * element-wise member mean and the member count — because a
    * list-typed result column defeats cross-engine hash comparison;
    * callers wanting array centroids regroup with collect_list over
    * pos order.
    */
  def kmeansIteration(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull && size(col("vec")) > 0)
      .withColumn("cell", bestCellOf(col("vec"), centroidSeq(nCells, dim)))
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos").cast("long").as("pos"))
      .agg(round(avg(col("v")), 6).as("c_val"), count(lit(1)).as("n_members"))
  }

  /** Literal coarse-centroid sequence (cell asc) — the driver-side
    * source of the static IVF cells, feeding the scan-stage assignment
    * below (round 18: the former bounded-broadcast centroid frame is
    * inlined as literals so assignment never leaves the scan stage).
    */
  private def centroidSeq(nCells: Int, dim: Int): Seq[(Int, Seq[Double])] =
    (0 until nCells).map(cl => (cl, (0 until dim).map(i => centroidVal(cl, i))))

  /** The `keep` best cells of `vec` in rank order — the FUSED
    * [[graft.etl.expressions.BestCells]] kernel (round 19, guide §4).
    * Value-identical to the round-18 composed form
    * `slice(sort_array(array(nCells × struct(nd = -round(dot, 6),
    * cell, cdot))), 1, keep)` — same comparator (`round(cdot,6) DESC,
    * cell ASC` incl. ±0.0/null placement), same multiplicity, the same
    * structs out (Wave31Spec pins it bit-for-bit; Wave30Spec pins the
    * comparator against the original crossJoin+window argmax) — but
    * ONE compact expression where the composed form was ~130 nodes ×
    * 16 × dim literal doubles per site. That composed expression was
    * un-splittable by codegen, so under the JIT-aligned
    * `hugeMethodLimit=8000` its whole stage fell back to per-operator
    * codegen (round 18 §6); the fused kernel keeps the generated stage
    * method small enough for whole-stage codegen AND drops the
    * analyzer/optimizer node count of every assignment-bearing plan.
    */
  private def bestCells(vec: Column, coarse: Seq[(Int, Seq[Double])],
      keep: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.etl.expressions.BestCells(
        org.apache.spark.sql.GraftBridge.expression(vec),
        coarse.map(_._1.toLong), coarse.map(_._2), keep))

  /** The single best cell id of `vec` (scan-stage argmax) — public for
    * the composition sites (residual frames) in the query registry.
    */
  def bestCellOf(vec: Column, coarse: Seq[(Int, Seq[Double])]): Column =
    element_at(bestCells(vec, coarse, 1), 1).getField("cell")

  /** Literal centroid gather by cell id — one map-literal lookup, for
    * sites that need the winning centroid VECTOR (residual encode)
    * after [[bestCellOf]]. Deliberately NOT a CASE chain: ProjectCollapse
    * inlines the `cell` argument into every reference, and a 16-branch
    * CASE re-evaluated the full argmax expression per branch test
    * (measured: q240 9.2 → 21.3 s under the CASE form) — element_at on
    * the map references `cell` exactly once. Missing key → null, same
    * as the un-defaulted CASE.
    */
  def centroidOf(cell: Column, coarse: Seq[(Int, Seq[Double])]): Column =
    element_at(
      typedLit(coarse.map { case (c, vs) => c.toLong -> vs }.toMap), cell)

  /** Assign each vector to its `keep` best coarse cells (argmax rounded
    * dot, cell-id tie-break) — scan-stage (see [[bestCells]]). NULL/
    * empty vectors are dropped before assignment. `extra` columns
    * (e.g. a training label) ride along untouched.
    */
  private def assignCells(df: DataFrame, id: String, vec: String,
      cents: Seq[(Int, Seq[Double])], keep: Int,
      extra: Seq[String] = Nil): DataFrame = {
    df.select((Seq(id, vec) ++ extra).map(col): _*)
      .filter(col(vec).isNotNull && size(col(vec)) > 0)
      .withColumn("bc", explode(bestCells(col(vec), cents, keep)))
      .withColumn("cell", col("bc").getField("cell"))
      .select((Seq(id, vec) ++ extra :+ "cell").map(col): _*)
  }

  /** The IVF candidate stage alone: every (q_id, n_id, sim) pair the
    * coarse quantizer admits — corpus vectors assigned to their single
    * best cell, queries to their `nProbe` best, joined on cell. This
    * IS [[ivfTopK]] before ranking (ivfTopK composes it), exposed so
    * cost/recall operating-point cards (q216) can measure the scan
    * work the probe budget buys without re-deriving the plan.
    */
  def ivfCandidatePairs(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val cents = centroidSeq(nCells, dim)

    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame =
      assignCells(df, id, vec, cents, keep)

    val c = assign(corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec")), "n_id", "n_vec", 1)
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
    val q = assign(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec")), "q_id", "q_vec", nProbe)
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0)
    q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
  }

  /** IVF-flat ANN: every corpus vector is assigned to its best coarse
    * centroid (argmax dot product, 16 deterministic md5-derived cells);
    * a query probes its `nProbe` best cells and re-ranks candidates by
    * exact cosine. The probe is an equi-join on the cell id — shuffle
    * keyed by cell, candidate set ≈ nProbe/nCells of the corpus — the
    * classic inverted-file trade of recall for a bounded scan, and the
    * alternative scale path to [[lshTopK]] (IVF probes the *nearest*
    * regions; LSH probes the *same-signature* region only).
    *
    * Ranks order by round(dot/sim, 6) with id tie-breaks so results are
    * reproducible across engines (same discipline as [[bruteForceTopK]]).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    ivfCandidatePairs(queries, corpus, idCol, vecCol, nCells, nProbe)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar corpus vectors whose LABEL DIFFERS from the
    * query's — the near-miss examples a retrieval/embedding trainer
    * pairs with its positives. Same bounded centroid broadcast-NLJ +
    * keyed cell equi-join as [[ivfTopK]] (labels ride through cell
    * assignment via `assignCells`' pass-through, no extra join); the
    * mismatch filter applies BEFORE ranking, so same-label neighbors
    * never crowd negatives out of the top-k.
    */
  def hardNegativesIvf(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val cents = centroidSeq(nCells, dim)

    val c = assignCells(corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"),
      col(labelCol).as("n_label")), "n_id", "n_vec", cents, 1, Seq("n_label"))
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
    val q = assignCells(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      col(labelCol).as("q_label")), "q_id", "q_vec", cents, nProbe, Seq("q_label"))
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("rank"), col("n_id"),
        col("n_label"), round(col("sim"), 6).as("sim"))
  }

  /** `corpus` as (id, vec, cell): every non-empty vector in its best
    * static cell — the assignment the semantic pair operators and their
    * cell audits share.
    */
  private def staticCells(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val cents = centroidSeq(nCells, dim)
    assignCells(
      corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec")),
      "id", "vec", cents, 1)
  }

  /** The frame both sides of a semantic pair join read: (cell, id, vec,
    * nrm) over [[staticCells]], over-cap cells dropped (`cellCap <= 0`
    * keeps all), zero-norm vectors dropped, persisted once.
    */
  private def pairFrame(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, cellCap: Int): DataFrame = {
    val assigned = staticCells(corpus, idCol, vecCol, nCells)
    val capped =
      if (cellCap > 0) {
        // same discipline as Dedup.minhashCandidates: enforce the cap
        // via a windowed count on the SAME key the pair join shuffles
        // on (shares the exchange; WindowExec spills, so the degenerate
        // cell streams through instead of OOMing a reducer)
        val wC = Window.partitionBy(col("cell"))
        assigned.withColumn("cs", count(lit(1)).over(wC))
          .filter(col("cs") <= cellCap)
          .drop("cs")
      } else assigned
    // both pair sides replay the scan->assign->cap pipeline; persist it
    // once (level is the util.Persist deploy-time switch). Zero-norm
    // vectors are dropped AFTER the cap count (cosine is undefined on
    // them; 0/0 = NaN, and Spark sorts NaN above every number, so a
    // NaN pair would both pass `sim >= tau` and displace the real
    // best witness in the rn=1 window).
    graft.util.Persist(capped.withColumn("nrm", norm(col("vec")))
      .filter(col("nrm") > 0))
  }

  /** Every within-cell pair (a_id < b_id) of [[pairFrame]] with its
    * cosine `sim` — the pair work semantic dedup and its τ curve share.
    */
  private def cellPairs(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, cellCap: Int): DataFrame = {
    val c = pairFrame(corpus, idCol, vecCol, nCells, cellCap)
    val a = c.select(col("cell"), col("id").as("a_id"),
      col("vec").as("a_vec"), col("nrm").as("a_nrm"))
    val b = c.select(col("cell"), col("id").as("b_id"),
      col("vec").as("b_vec"), col("nrm").as("b_nrm"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        dot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")))
  }

  /** Semantic (embedding-space) dedup: assign every vector to its best
    * coarse IVF cell, then mark as dropped any id whose cell contains a
    * LOWER id with cosine >= `tau` — the pairwise search is confined to
    * cells, so the shuffle is an equi-join keyed by cell and the pair
    * work is O(sum cell_size^2), never corpus-quadratic. Output is the
    * drop list with evidence: for each dropped id, the single best
    * (highest rounded sim, lowest id) lower-id witness. NOTE the
    * witness is the best LOWER-ID pair partner, not a guaranteed
    * transitive survivor — in a chain 1~2~3 the witness of 3 may be 2,
    * itself dropped against 1. Consumers needing a canonical survivor
    * per near-dup group should run [[graft.ext.Dedup.connectedComponents]]
    * over the (kept_id, dropped_id) pairs, exactly as the MinHash
    * family does (q45): min id per component is the survivor.
    *
    * This is the clustering-bounded semantic-dedup shape (cluster with
    * k-means-style cells, deduplicate within clusters): at corpus scale
    * `nCells` grows with the corpus (cells ~ n / target_cell_size — the
    * centroid table stays a safe broadcast at any realistic cell count)
    * and `cellCap` is the same safety valve as the MinHash hot-bucket
    * cap: a degenerate cell (embedding collapse, zero vectors) would
    * otherwise emit O(n^2) pairs. Over-cap cells are dropped from pair
    * generation — audit with [[hotCells]]; `cellCap <= 0` disables.
    * A vector missed because its true near-dup sits across a cell
    * boundary is the standard recall trade (same as IVF nProbe=1).
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, nCells: Int = 16, cellCap: Int = 10000): DataFrame = {
    val w = Window.partitionBy(col("dropped_id"))
      .orderBy(round(col("sim"), 6).desc, col("kept_id").asc)
    cellPairs(corpus, idCol, vecCol, nCells, cellCap)
      // threshold on the ROUNDED sim — the same 6-decimal resolution
      // the window orders by, the output emits, and semanticMaxSim
      // aggregates, so "dropped at tau" ⟺ "max_sim >= tau" holds
      // EXACTLY (a raw-sim filter let a pair in [tau-5e-7, tau) count
      // in the τ curve but survive the dedup)
      .filter(round(col("sim"), 6) >= tau)
      .select(col("cell"), col("b_id").as("dropped_id"),
        col("a_id").as("kept_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dropped_id"), col("kept_id"),
        round(col("sim"), 6).as("sim"), col("cell"))
  }

  /** The τ-free witness aggregate behind [[semanticDedup]]: per
    * candidate doc (the larger id of each within-cell pair), the
    * cosine of its BEST witness — i.e. the max τ at which the doc
    * would still be dropped. One extra map-side-combinable aggregate
    * on top of the same cell-bounded pair pipeline; consumers sweep
    * thresholds over this frame (a τ calibration curve) without
    * re-running pair generation per τ.
    */
  def semanticMaxSim(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, cellCap: Int = 10000): DataFrame = {
    cellPairs(corpus, idCol, vecCol, nCells, cellCap)
      .groupBy(col("b_id").as("dropped_id"))
      .agg(max(round(col("sim"), 6)).as("max_sim"))
  }

  /** The (cell, id, vec, nrm) frame a semantic-dedup deployment
    * persists as its cell index — argmax-cell assignment plus the
    * per-vector norm, usable-vector contract applied. At 100 TB this
    * table IS the corpus build's embedding-index output (q22's
    * persisted-signature discipline for the embedding family); both
    * the batch detectors and the streaming ingest twin (q135) read or
    * build exactly this frame, so the index and the recompute path
    * cannot diverge.
    */
  def cellIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16): DataFrame =
    staticCells(corpus, idCol, vecCol, nCells)
      .withColumn("nrm", norm(col("vec")))
      .filter(col("nrm") > 0)
      .select(col("cell"), col("id"), col("vec"), col("nrm"))

  /** Cross-side semantic candidates for the incremental/streaming
    * loop: a batch [[cellIndex]] equi-joined against the persisted
    * base index on the cell id — delta×base pairs only, never
    * base×base work, never a corpus rescan (the q115/q123 ingest shape
    * for the embedding family). Same degenerate-cell safety valve as
    * [[semanticDedup]], counted per base+batch cell: over-cap cells
    * are anti-joined off the batch side before pair work (the hot
    * frame is empty-to-tiny by construction, so the anti-join
    * broadcasts). Emits every in-threshold pair with the
    * rounded-at-6 sim — the threshold discipline `round(sim,6) >= tau`
    * shared with [[semanticDedup]]/[[semanticMaxSim]].
    */
  def semanticCrossCandidates(batchIdx: DataFrame, baseIdx: DataFrame,
      tau: Double, cellCap: Int = 10000,
      baseCellCounts: Option[DataFrame] = None): DataFrame = {
    val capped =
      if (cellCap > 0) {
        // batch agg + join against base-side cell counts (cn):
        // value-identical to counting the union (base-only cells can't
        // produce a cross pair), but the base index isn't rescanned
        // per micro-batch when `baseCellCounts` carries the persisted
        // (cell, cn) artifact — the additive-counts discipline of the
        // streamSigCandidates cap, for the embedding family
        val cn = baseCellCounts.getOrElse(
          baseIdx.groupBy(col("cell")).agg(count(lit(1)).as("cn")))
        val hot = batchIdx.groupBy(col("cell")).agg(count(lit(1)).as("cb"))
          .join(cn, Seq("cell"), "left")
          .filter(coalesce(col("cn"), lit(0L)) + col("cb") > cellCap)
          .select(col("cell"))
        batchIdx.join(hot, Seq("cell"), "left_anti")
      } else batchIdx
    capped.select(col("cell"), col("id").as("delta_id"),
        col("vec").as("d_vec"), col("nrm").as("d_nrm"))
      .join(baseIdx.select(col("cell"), col("id").as("base_id"),
        col("vec").as("b_vec"), col("nrm").as("b_nrm")), Seq("cell"))
      .withColumn("sim",
        dot(col("d_vec"), col("b_vec")) / (col("d_nrm") * col("b_nrm")))
      .filter(round(col("sim"), 6) >= tau)
      .select(col("delta_id"), col("base_id"),
        round(col("sim"), 6).as("sim"), col("cell"))
  }

  /** Observability twin of the [[semanticDedup]] cell cap: the cells
    * the cap would drop, with sizes (one keyed shuffle, no pair work).
    */
  def hotCells(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, cellCap: Int = 10000): DataFrame =
    staticCells(corpus, idCol, vecCol, nCells)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_size"))
      .filter(col("cell_size") > cellCap)

  /** The [[semanticContamination]] pre-flight gate (ADVICE r13), per
    * IVF cell: total population (the cap's own base — post-assignment,
    * pre-norm-filter, exactly what the valve measures) SPLIT by held
    * side. The decon cap silently drops whole over-cap cells, so
    * `n_held` inside an over-cap cell is held mass the filter never
    * screened — the deployment rule is: zero over-cap cells, or
    * re-center / raise the cap / exact-check the hot cell before
    * trusting the decon output. Same bounded 16-row centroid fan-out
    * as [[hotCells]]; one keyed aggregate, no pair work.
    */
  def cellSafetyStats(corpus: DataFrame, idCol: String, vecCol: String,
      heldSide: Column => Column, nCells: Int = 16): DataFrame =
    staticCells(corpus, idCol, vecCol, nCells)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_size"),
        sum(when(heldSide(col("id")), 1L).otherwise(0L)).as("n_held"),
        sum(when(!heldSide(col("id")), 1L).otherwise(0L)).as("n_train"))

  // ================= Product quantization (IVF-PQ) =================

  /** Component i of PQ sub-codebook centroid `c` in subspace `sub`
    * (deterministic; public so the oracle SQL can inline the same
    * constants, like [[centroidVal]]).
    */
  def pqVal(sub: Int, c: Int, i: Int): Double = hashVal(s"pqcent-$sub-$c-$i")

  /** The static sub-codebooks: element `sub` is subspace `sub`'s
    * centroids in id order, each `subDim` [[pqVal]] components. The
    * ids equal the positions, so an argmin position IS the code.
    */
  private def staticCodebook(m: Int, subDim: Int,
      nCents: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(sub => (0 until nCents).map(c =>
      (0 until subDim).map(i => pqVal(sub, c, i)): Seq[Double]))

  /** Subvector of `v` for subspace `sub` under a dimension layout.
    * `None` is the contiguous layout: one `slice` codegen call, null
    * when `v` is short. `Some(perm)` gathers the [[subDims]] in
    * position order with `element_at`, which throws (ANSI) when `v` is
    * short.
    * The identity perm reads the slice's values, so the two layouts are
    * value-interchangeable on full-length vectors; a caller passing
    * `0 until dim` still gets the gather, its plan and its error.
    */
  private def subVec(v: Column, perm: Option[Seq[Int]], sub: Int,
      subDim: Int): Column =
    if (perm.isEmpty) slice(v, sub * subDim + 1, subDim)
    else array(subDims(perm, sub, subDim).map(d => element_at(v, d + 1)): _*)

  /** The dimensions subspace `sub` reads: the contiguous stretch
    * `sub*subDim` until `(sub+1)*subDim`, or that stretch of `perm`.
    */
  private def subDims(perm: Option[Seq[Int]], sub: Int,
      subDim: Int): Seq[Int] = {
    val (from, until) = (sub * subDim, (sub + 1) * subDim)
    perm.fold[Seq[Int]](from until until)(_.slice(from, until))
  }

  /** PQ encode (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): split an `m*subDim`-dim vector into
    * `m` subvectors and assign each its nearest (L2) sub-codebook
    * centroid. Output is an array of `m` small code ints — at corpus
    * scale the ANN index stores ONLY (cell, codes): m bytes per vector
    * instead of 4*dim, a 32× shrink over fp32 at the default geometry,
    * which is the entire point of PQ (the int8 path q81/q94 shrinks 4×;
    * this is the next rung of the same ladder).
    *
    * The argmin key is |c|² − 2·x·c (dropping the per-row |x|² constant,
    * which cannot change the argmin and halves the fold work); every
    * dot is the shared sequential left fold, so any engine replays the
    * argmin bit-exactly; ties at 6-decimal resolution break toward the
    * lower centroid id (registry-wide determinism discipline). The
    * centroid self-dots are folded over literal arrays, so Catalyst
    * constant-folds them at plan time — per-row work is m*nCents
    * subDim-length dots, the same order as IVF cell assignment.
    *
    * The code is, per subspace, the POSITION of the nearest centroid in
    * `codebook(sub)`'s order over [[subVec]] under the layout `perm`
    * (for the static codebook the cell ids equal their positions). One
    * encode is shared by every path, so the q229 rank path and the q232
    * index builder cannot desynchronize.
    */
  private def pqCodesWith(codebook: Map[Int, Seq[Seq[Double]]],
      m: Int, subDim: Int, perm: Option[Seq[Int]])(vec: Column): Column =
    array((0 until m).map { sub =>
      pqArgminOf(subVec(vec, perm, sub, subDim), codebook(sub))
    }: _*)

  /** The query side of every ADC path: the assigned (q_id, q_vec,
    * cell, …) frame cut to usable vectors, each with its m × nCents
    * inner-product LUT over `codebook` under the layout `perm`.
    */
  private def withLut(assigned: DataFrame,
      codebook: Map[Int, Seq[Seq[Double]]], m: Int, subDim: Int,
      perm: Option[Seq[Int]]): DataFrame =
    assigned.withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0)
      .withColumn("lut", pqLutOf(col("q_vec"), codebook, m, subDim, perm))

  /** A candidate's ADC score: the `lut` entry its `n_code` selects in
    * each subspace, summed as the fixed left-to-right fold the oracle
    * replays.
    */
  private def adcSum(m: Int): Column =
    (0 until m).map { sub =>
      element_at(element_at(col("lut"), sub + 1),
        element_at(col("n_code"), sub + 1) + 1)
    }.reduce(_ + _)

  /** Top-k of the cell-joined (query LUT, corpus code) candidates by
    * `adc` (rounded-at-6 desc, n_id asc), self-pairs out.
    */
  private def adcTopK(q: DataFrame, c: DataFrame, k: Int,
      adc: Column): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("adc"), 6).desc, col("n_id").asc)
    q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("adc"), 6).as("adc"))
  }

  /** IVF-PQ ANN with asymmetric-distance (ADC) scoring — the
    * composition a 100 TB vector index actually deploys (FAISS's
    * IVFPQ): coarse IVF cells bound the candidate set (keyed equi-join
    * on cell, [[ivfTopK]]'s shape), and within a cell the corpus side
    * is represented ONLY by its m-byte PQ code — the fp32 vector is
    * dropped after encode, so the index shard is ~32× smaller and
    * candidate scoring never touches raw vectors. Each query builds its
    * per-subspace dot-product lookup table (m × nCents doubles, a
    * per-row constant-size column) once; a candidate's ADC score is m
    * table lookups + m−1 adds instead of a dim-length fold — the LUT
    * trade that makes PQ scan candidates at memory speed.
    *
    * ADC approximates the INNER-PRODUCT ranking (score =
    * q · reconstruct(code)); recall against the exact-IP ranking is
    * measured by q128, exactly as q76/q97 gate the LSH/int8 paths.
    * Zero-norm/empty vectors are excluded on both sides (usable-vector
    * contract shared with every rank path). The ADC sum is a fixed
    * left-to-right fold over subspaces so the oracle can replay the
    * exact FP association.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, subDim: Int = 8, nCents: Int = 16,
      nCells: Int = 16, nProbe: Int = 4): DataFrame =
    pqAdcTopKWith(queries, corpus, idCol, vecCol, k,
      (0 until m).zip(staticCodebook(m, subDim, nCents)).toMap,
      m, subDim, nCells, nProbe)

  /** [[pqAdcTopK]] generalized over the codebook and the dimension
    * layout. `codebook(sub)` is the ORDERED centroid list for subspace
    * `sub` (the static deterministic table for the default path; q130's
    * refined training artifact for the trained path, q136). The encode
    * emits the POSITION in that order (for a possibly-sparse trained
    * codebook the position, not the original cell id, indexes the LUT);
    * encode and LUT iterate the same order so they cannot
    * desynchronize.
    *
    * `perm` is the layout ([[subVec]]). `Some(p)` is the OPQ deployment
    * (q197): the corpus encode and the query-side LUT both read
    * subspace `sub` through `p` — [[pqTrainIteration]]'s gather — so
    * the trained-layout codebook scores exactly the subvectors it was
    * trained on. The coarse IVF stage is layout-INDEPENDENT (cells
    * assign on the full vector), so candidate sets are identical across
    * layouts and a recall delta is pure quantization effect, never
    * routing luck. The static/trained contiguous paths (q127–q136) pass
    * `None`: `slice` is one codegen call where the gather is subDim
    * `element_at`s, and they should not pay that on every row for a
    * layout they never vary.
    */
  def pqAdcTopKWith(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      codebook: Map[Int, Seq[Seq[Double]]],
      m: Int = 8, subDim: Int = 8,
      nCells: Int = 16, nProbe: Int = 4,
      perm: Option[Seq[Int]] = None): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    val cents = centroidSeq(nCells, dim)
    val c = assignCells(corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("n_vec")), "n_id", "n_vec", cents, 1)
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
      .select(col("cell"), col("n_id"),
        pqCodesWith(codebook, m, subDim, perm)(col("n_vec")).as("n_code"))
    val q = withLut(assignCells(queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec")), "q_id", "q_vec", cents, nProbe),
        codebook, m, subDim, perm)
      .select(col("cell"), col("q_id"), col("lut"))
    adcTopK(q, c, k, adcSum(m))
  }

  /** The coarse-cell assignment under an EXPLICIT centroid table
    * (trained cells rather than the [[centroidVal]] statics): `keep`
    * best cells by rounded dot with low-cell tie-break, the unrounded
    * `cdot` retained (the IVF-PQ coarse score term). Shared by the
    * q229 candidate and rank paths so routing cannot desynchronize.
    */
  private def assignCellsOn(df: DataFrame, vec: String,
      cents: Seq[(Int, Seq[Double])], keep: Int): DataFrame =
    df.filter(col(vec).isNotNull && size(col(vec)) > 0)
      .select(col("*"),
        posexplode(bestCells(col(vec), cents, keep)).as(Seq("bp", "bc")))
      .withColumn("cell", col("bc").getField("cell"))
      .withColumn("cvec", centroidOf(col("cell"), cents))
      .withColumn("cdot", col("bc").getField("cdot"))
      .withColumn("rn", (col("bp") + 1).cast("int"))
      .drop("bp", "bc")

  /** The candidate pairs the explicit-centroid IVF routing admits
    * (corpus keep=1, queries keep=nProbe, cell equi-join, self-pairs
    * out) — [[ivfCandidatePairs]] over a TRAINED coarse quantizer.
    * Exposed so q229 can price the probe budget both its variants
    * share (they route identically by construction).
    */
  def ivfCandidatePairsOn(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, coarse: Seq[(Int, Seq[Double])],
      nProbe: Int = 4): DataFrame = {
    val c = assignCellsOn(corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("n_vec")), "n_vec",
        coarse, 1)
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
      .select(col("cell"), col("n_id"))
    val q = assignCellsOn(queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec")), "q_vec",
        coarse, nProbe)
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0)
      .select(col("cell"), col("q_id"))
    q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
  }

  /** The IVF-PQ residual index FRAME — what the deployed index
    * actually stores per vector: (cell, id, m-byte residual code).
    * Pure scan-stage per row (nCells + m·nCents small dots), so a
    * maintenance path can encode any batch with FROZEN artifacts and
    * append — the q232 streaming loop's per-batch core, and exactly
    * the corpus side [[ivfPqAdcTopKOn]] scores against.
    *
    * With `perm = Some(p)` it is the frozen-artifact bundle with the
    * OPQ permutation carried through the maintenance path (VERDICT r17
    * #3): q237/q240 prove the variance-balanced layout wins at the
    * residual rung, so the deployed index artifact must be ENCODED
    * under it, and every append batch must gather subspaces through the
    * SAME frozen perm or the codes desynchronize from the codebook.
    * Routing and cost shape do not depend on the layout; with the
    * identity perm the frame is value-identical to `perm = None`
    * (Wave29Spec pins that).
    */
  def ivfPqResidualIndex(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Seq[(Int, Seq[Double])],
      codebook: Map[Int, Seq[Seq[Double]]],
      m: Int = 8, subDim: Int = 8,
      perm: Option[Seq[Int]] = None): DataFrame =
    assignCellsOn(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec")), "vec", coarse, 1)
      .withColumn("nrm", norm(col("vec")))
      .filter(col("nrm") > 0)
      .withColumn("resid", vecSub(col("vec"), col("cvec")))
      .select(col("cell"), col("id"),
        pqCodesWith(codebook, m, subDim, perm)(col("resid")).as("code"))

  /** ADC top-k against a PRE-BUILT residual index frame (cell, id,
    * code) — the query path a deployment actually runs: the index
    * rows come from [[ivfPqResidualIndex]] (or its q232 maintained
    * union), the raw corpus vectors are never touched. Query side
    * builds its LUT from the FROZEN codebook and probes `nProbe`
    * trained cells; a candidate's score is the exact coarse dot plus
    * m LUT lookups. q234 uses this to price index STALENESS: the
    * same query set against the base-only rows vs the maintained
    * base ∪ delta rows.
    *
    * `perm` must be the layout the index rows were encoded under (the
    * q242 maintained OPQ artifact passes its frozen perm): the query
    * LUT gathers its subvectors through the SAME perm or every lookup
    * reads the wrong subspace. Wave29Spec pins serving-the-artifact ≡
    * the direct corpus encode path row-for-row.
    */
  def ivfPqAdcTopKIndex(queries: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, k: Int,
      coarse: Seq[(Int, Seq[Double])],
      codebook: Map[Int, Seq[Seq[Double]]],
      m: Int = 8, subDim: Int = 8, nProbe: Int = 4,
      perm: Option[Seq[Int]] = None): DataFrame = {
    val c = index.select(col("cell"), col("id").as("n_id"),
      col("code").as("n_code"))
    val q = withLut(assignCellsOn(queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec")), "q_vec",
        coarse, nProbe), codebook, m, subDim, perm)
      .select(col("cell"), col("q_id"), col("lut"), col("cdot").as("coarse"))
    adcTopK(q, c, k, col("coarse") + adcSum(m))
  }

  /** The probe-budget sweep over a pre-built residual index: ADC
    * top-k per nProbe level in `probes`, computed from ONE query-side
    * assignment (keep = max probe, the cell rank `crank` retained)
    * and ONE candidate/ADC pass — each level is a crank filter + its
    * own rank window, never a re-scan (q216's sweep shape at the
    * IVF-PQ rung). Returns (n_probe, q_id, rank, n_id, adc).
    */
  def ivfPqProbeSweep(queries: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, k: Int,
      coarse: Seq[(Int, Seq[Double])],
      codebook: Map[Int, Seq[Seq[Double]]],
      probes: Seq[Int],
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val c = index.select(col("cell"), col("id").as("n_id"),
      col("code").as("n_code"))
    val q = withLut(assignCellsOn(queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec")), "q_vec",
        coarse, probes.max), codebook, m, subDim, None)
      .select(col("cell"), col("q_id"), col("lut"),
        col("cdot").as("coarse"), col("rn").as("crank"))
    val scored = graft.util.Persist(q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", col("coarse") + adcSum(m))
      .select(col("q_id"), col("n_id"), col("crank"),
        round(col("adc"), 6).as("adc")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id").asc)
    probes.map { p =>
      scored.filter(col("crank") <= p)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(lit(p.toLong).as("n_probe"), col("q_id"), col("rank"),
          col("n_id"), col("adc"))
    }.reduce(_ unionByName _)
  }

  /** The candidate mass each probe level scans — the COST column of
    * the q235 operating-point card. One assignment + one cell join,
    * reduced to a crank histogram (≤ nCells rows), then each level is
    * a bounded cumulative sum — never a per-level re-join.
    */
  def ivfPqProbeCosts(queries: DataFrame, index: DataFrame,
      idCol: String, vecCol: String,
      coarse: Seq[(Int, Seq[Double])], probes: Seq[Int]): DataFrame = {
    val spark = index.sparkSession
    val q = assignCellsOn(queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec")), "q_vec",
        coarse, probes.max)
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0)
      .select(col("cell"), col("q_id"), col("rn").as("crank"))
    val hist = q.join(index.select(col("cell"), col("id").as("n_id")),
        Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("crank")).agg(count(lit(1)).as("cn"))
    val pr = probes.map(p => spark.range(1)
        .select(lit(p.toLong).as("n_probe")))
      .reduce(_ unionByName _)
    pr.join(broadcast(hist), col("crank") <= col("n_probe"), "left")
      .groupBy(col("n_probe"))
      .agg(coalesce(sum(col("cn")), lit(0L)).as("n_candidates"))
  }

  /** ADC+R — the standard two-stage refinement (VERDICT r17 #4,
    * Jégou et al.'s "IVFADC+R" shape): an ADC SHORTLIST of kShort > k
    * candidates from the compressed codes, then an EXACT inner
    * product on only the shortlist's raw vectors, re-ranked to the
    * final top-k. Recovers most of the exact-vs-ADC quantization gap
    * at shortlist-bounded extra cost: the shortlist is |Q| × kShort
    * rows (bounded — broadcast), so the raw-vector gather is ONE
    * id-keyed hash-join scan of the corpus, never a second candidate
    * fan-out, and the exact dots number |Q| × kShort. IVF
    * (`ivfTopK`) and LSH re-rank exactly already; this closes the
    * same rung for the IVF-PQ path. Layout-aware: the shortlist runs
    * the residual [[ivfPqAdcTopKOn]] under the frozen OPQ perm; the
    * exact rerank reads raw vectors, so no gather is involved.
    */
  def ivfPqAdcRerankTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, kShort: Int,
      coarse: Seq[(Int, Seq[Double])],
      codebook: Map[Int, Seq[Seq[Double]]], perm: Seq[Int],
      m: Int = 8, subDim: Int = 8, nProbe: Int = 4): DataFrame = {
    require(kShort >= k, s"shortlist $kShort must cover the final k=$k")
    val shortlist = ivfPqAdcTopKOn(queries, corpus, idCol, vecCol,
        kShort, coarse, codebook, residual = true, m, subDim, nProbe,
        perm = Some(perm))
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** The exact re-rank STAGE of ADC+R on its own — so any shortlist
    * producer (the corpus-path ADC, the index-serving LUT path, an
    * LSH bucket scan) composes with the same refinement: the
    * (q_id, n_id) shortlist is bounded (|Q| × k′), so it broadcasts
    * and the raw-vector gather is ONE id-keyed hash-join scan of the
    * corpus; the exact dots number |Q| × k′. Ordering is the rounded
    * inner product with low-id ties — the [[bruteForceDotTopK]]
    * discipline, so a full-corpus shortlist would reproduce the
    * exact truth ranking.
    */
  def exactRerank(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("ip"), 6).desc, col("n_id").asc)
    corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("n_vec"))
      .join(broadcast(shortlist.select(col("q_id"), col("n_id"))),
        Seq("n_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("ip", dot(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("ip"), 6).as("score"))
  }

  /** IVF-PQ over an EXPLICIT (trained) coarse quantizer — the layout
    * a production vector index actually deploys (Jégou et al. TPAMI
    * 2011 §IV, FAISS IVFPQ): with `residual = true` each corpus
    * vector is stored as (cell, PQ code of vec − centroid(cell)) and
    * a candidate scores as q·centroid(cell) + q·reconstruct(residual
    * code) — the coarse term is exact, the codebook only has to span
    * the small within-cell displacement, which is why residual
    * encoding beats raw-vector encoding once the coarse cells are
    * data-adapted (q229 measures exactly this against the flat leg).
    * With `residual = false` the same routing scores raw-vector codes
    * (the flat-PQ comparison leg): candidate sets are IDENTICAL
    * across the two variants by construction, so a recall delta is
    * pure quantization geometry, never routing luck ([[pqAdcTopKWith]]'s
    * layout argument, one rung up).
    *
    * `perm` threads the OPQ-lite permutation ([[balancedLayout]], q184)
    * through the residual encode and its ADC query path (VERDICT r16
    * #3, q237): routing, residual computation and the left-fold ADC
    * do not depend on it, only the subspace GATHER does, so a recall
    * delta between two layouts is pure quantization geometry too.
    *
    * Cost shape matches [[pqAdcTopKWith]]: the corpus side is
    * scan-stage encode (nCells + m·nCents small dots per row), the
    * join is a cell-keyed equi-join, and the per-candidate score is m
    * LUT lookups — no raw corpus vector is touched after encode. The
    * ADC sum is the fixed left fold with the coarse term added LAST
    * (`coarse + (t0 + … + t7)`), mirrored exactly in the oracle.
    */
  def ivfPqAdcTopKOn(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      coarse: Seq[(Int, Seq[Double])],
      codebook: Map[Int, Seq[Seq[Double]]],
      residual: Boolean,
      m: Int = 8, subDim: Int = 8, nProbe: Int = 4,
      perm: Option[Seq[Int]] = None): DataFrame = {
    val c = assignCellsOn(corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("n_vec")), "n_vec",
        coarse, 1)
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
      .withColumn("enc", if (residual)
          vecSub(col("n_vec"), col("cvec"))
        else col("n_vec"))
      .select(col("cell"), col("n_id"),
        pqCodesWith(codebook, m, subDim, perm)(col("enc")).as("n_code"))
    val q = withLut(assignCellsOn(queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec")), "q_vec",
        coarse, nProbe), codebook, m, subDim, perm)
      .select(col("cell"), col("q_id"), col("lut"), col("cdot").as("coarse"))
    adcTopK(q, c, k, if (residual) col("coarse") + adcSum(m) else adcSum(m))
  }

  /** Exact brute-force INNER-PRODUCT top-k — the truth side for the
    * ADC recall eval (ADC approximates q·n, not cosine, so its recall
    * must be measured against the exact-IP ranking; [[bruteForceTopK]]
    * remains the cosine truth for the LSH/IVF evals). Same fenced
    * bounded-broadcast design as q25.
    */
  def bruteForceDotTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .filter(col("q_norm") > 0))
    val c = corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
      .filter(col("n_norm") > 0)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("ip"), 6).desc, col("n_id").asc)
    q.crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("ip", dot(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("ip"), 6).as("ip"))
  }

  /** (id, vec, nrm) over the usable vectors of `corpus` (non-null,
    * non-empty, norm > 0) — the population every PQ training and
    * distortion report reads.
    */
  private def usableVecs(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull && size(col("vec")) > 0)
      .withColumn("nrm", norm(col("vec")))
      .filter(col("nrm") > 0)

  /** A collected (sub, c, centroid) training artifact as each
    * subspace's centroids in c order — the cells PRESENT in the
    * artifact only (empty cells trained nothing).
    */
  private def bySub(refined: Seq[(Int, Int, Seq[Double])]): Map[Int, Seq[Seq[Double]]] =
    refined.groupBy(_._1).map { case (s, xs) => s -> xs.sortBy(_._2).map(_._3) }

  /** PQ reconstruction distortion: per subspace, the mean squared L2
    * error between each usable vector's subvector and its assigned
    * centroid — the quantization-quality report read before committing
    * a codebook geometry (the PQ twin of the q97 recall gate). Pure
    * scan-stage encode + one m-bounded aggregate; the per-row distance
    * uses the same three-fold identity |x−c|² = x·x + c·c − 2·x·c as
    * the encode so the oracle replays it exactly.
    */
  def pqDistortion(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, subDim: Int = 8, nCents: Int = 16): DataFrame = {
    val statics = staticCodebook(m, subDim, nCents)
    usableVecs(corpus, idCol, vecCol)
      .select(col("id"), posexplode(array((0 until m).map { sub =>
        // fused |sv|² + key-at-argmin kernel (round 19): one node per
        // subspace instead of the 2·nCents-fold keys/cands forest
        pqMinErrOf(subVec(col("vec"), None, sub, subDim), statics(sub))
      }: _*)).as(Seq("sub", "sqerr")))
      .groupBy(col("sub").cast("long").as("sub"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("sqerr")), 6).as("mse"))
  }

  /** Dimension-truncation ranking: exact cosine computed on the FIRST
    * `d` components only — the matryoshka-representation trade
    * (Kusupati et al., NeurIPS 2022): store/scan a prefix of each
    * embedding for a d/dim cost cut and measure the recall price
    * (q134's sweep). Same fenced bounded-broadcast design as
    * [[bruteForceTopK]]. Usability is judged on the FULL vector (the
    * population every rank path shares); a zero-norm PREFIX of a
    * usable vector scores −2 (below the cosine range), so such pairs
    * rank deterministically last on any engine instead of producing a
    * NaN whose sort order is engine-specific.
    */
  def truncatedTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, d: Int): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame =
      df.select(col(idCol).as(s"${p}_id"), col(vecCol).cast("array<double>").as("fv"))
        .withColumn("fnorm", norm(col("fv")))
        .filter(col("fnorm") > 0)
        .select(col(s"${p}_id"), slice(col("fv"), 1, d).as(s"${p}_vec"))
        .withColumn(s"${p}_norm", norm(col(s"${p}_vec")))
    val q = broadcast(side(queries, "q"))
    val c = side(corpus, "n")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    q.crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", when(col("q_norm") > 0 && col("n_norm") > 0,
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
        .otherwise(lit(-2.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** One Lloyd refinement of the PQ sub-codebooks — PQ *training* (the
    * per-subspace k-means step of Jégou et al.; [[kmeansIteration]]'s
    * discipline at the PQ rung): every usable vector's subvectors are
    * assigned their argmin static centroid ([[pqCodesWith]]' key), and each
    * (subspace, code) cell's element-wise member mean is the refined
    * centroid. Long-form output — one row per (sub, c, pos) with the
    * mean and member count — because list columns defeat cross-engine
    * hashing (q74's convention); empty cells emit no rows. The only
    * shuffle is keyed by (sub, c, pos) — ≤ m*nCents*subDim groups with
    * map-side partial aggregation, so the update is corpus-size-
    * independent after the scan.
    *
    * `perm` is the dimension layout ([[subVec]]): with `Some(p)`
    * subspace `sub` reads dims `p(sub*subDim..)` instead of a
    * contiguous slice (the OPQ-lite trainer). The static init codebook
    * is the same under every layout — it lives in code space, not dim
    * space.
    */
  def pqTrainIteration(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, subDim: Int = 8, nCents: Int = 16,
      perm: Option[Seq[Int]] = None): DataFrame = {
    val statics = staticCodebook(m, subDim, nCents)
    usableVecs(corpus, idCol, vecCol)
      .select(col("id"), posexplode(array((0 until m).map { sub =>
        val sv = subVec(col("vec"), perm, sub, subDim)
        struct(pqArgminOf(sv, statics(sub)).as("c"), sv.as("sv"))
      }: _*)).as(Seq("sub", "sc")))
      .select(col("sub"), col("sc.c").as("c"),
        posexplode(col("sc.sv")).as(Seq("pos", "vv")))
      .groupBy(col("sub").cast("long").as("sub"), col("c").cast("long").as("c"),
        col("pos").cast("long").as("pos"))
      .agg(round(avg(col("vv")), 6).as("c_val"), count(lit(1)).as("n_members"))
  }

  /** Distortion before/after one training iteration: per subspace, the
    * corpus MSE under the static codebook vs under `refined` (the
    * collected [[pqTrainIteration]] output — a bounded training
    * artifact, m*nCents*subDim doubles, inlined as literals exactly
    * like the static codebook). The measurable proof that the training
    * step moves the operating point (mse down ⇒ ADC ranking closer to
    * exact — the PQ analogue of the q121/q126 knob sweeps). Encode
    * against refined centroids argmins over the cells PRESENT in the
    * artifact (empty cells trained nothing), same rounded-key/low-id
    * tie discipline. Pure scan-stage; one m-bounded aggregate.
    */
  def pqRefineGain(corpus: DataFrame, idCol: String, vecCol: String,
      refined: Seq[(Int, Int, Seq[Double])],
      m: Int = 8, subDim: Int = 8, nCents: Int = 16): DataFrame = {
    val trained = bySub(refined)
    val statics = staticCodebook(m, subDim, nCents)
    // fused |sv|² + key-at-argmin kernel (round 19) — the argmin runs
    // over positions in centroid order, the same (rounded d, position)
    // comparator the composed (d, i, c) struct min reduced to
    usableVecs(corpus, idCol, vecCol)
      .select(col("id"), posexplode(array((0 until m).map { sub =>
        val sv = subVec(col("vec"), None, sub, subDim)
        struct(
          pqMinErrOf(sv, statics(sub)).as("e0"),
          pqMinErrOf(sv, trained.getOrElse(sub, statics(sub))).as("e1"))
      }: _*)).as(Seq("sub", "es")))
      .groupBy(col("sub").cast("long").as("sub"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("es.e0")), 6).as("mse_static"),
        round(avg(col("es.e1")), 6).as("mse_refined"))
  }

  // ============== OPQ-lite: variance-balanced PQ layout ==============

  /** Variance-balanced dimension-to-subspace layout — the
    * non-parametric "OPQ-lite" initialization of Ge et al. ("Optimized
    * Product Quantization", CVPR 2013): instead of learning a full
    * rotation, PERMUTE the dimensions so each PQ subspace receives a
    * balanced share of the corpus variance (the paper's eigenvalue-
    * allocation idea applied directly to per-dimension variances; no
    * eigendecomposition, so every step is replayable by a SQL oracle).
    *
    * Input is the per-dimension variance vector (a bounded training
    * artifact: `dim` doubles from ONE corpus aggregate — collect
    * discipline of the PQ codebook). Dimensions are ranked by
    * (rounded-at-6 variance desc, dim asc) and dealt to subspaces in
    * SNAKE order (rank block b = r/m, within-block w = r%m:
    * subspace = w on even blocks, m-1-w on odd blocks; position =
    * b) — so the top-m dims land one per subspace, the next m reverse,
    * and per-subspace variance sums stay near-equal. On an ISOTROPIC
    * corpus this is a no-op by construction (all variances tie at
    * rounding resolution → identity-ish layout, nothing to gain) —
    * hence the anisotropic rehearsal fixture gating q184.
    *
    * Returns the layout as a permutation p of 0..dim-1: subspace `sub`
    * covers original dims p(sub*subDim) .. p(sub*subDim + subDim - 1),
    * in position order. The identity layout is `0 until dim`.
    */
  def balancedLayout(variances: Seq[Double], m: Int = 8,
      subDim: Int = 8): Seq[Int] = {
    require(variances.size == m * subDim,
      s"expected ${m * subDim} variances, got ${variances.size}")
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ranked = variances.zipWithIndex
      .sortBy { case (v, d) => (-r6(v), d) }.map(_._2)
    val perm = new Array[Int](m * subDim)
    for (r <- 0 until m * subDim) {
      val b = r / m; val w = r % m
      val sub = if (b % 2 == 0) w else m - 1 - w
      perm(sub * subDim + b) = ranked(r)
    }
    perm.toSeq
  }

  /** Per-subspace corpus MSE under a TRAINED codebook and an explicit
    * dimension layout — the measurement half of the OPQ-lite loop:
    * train each layout with [[pqTrainIteration]], inline the
    * collected (bounded) artifact here, compare layouts row-for-row.
    * Encode argmins over the cells PRESENT in the artifact with the
    * rounded-key/low-index tie discipline; the reported error is the
    * UNROUNDED key at the argmin plus |sv|² ([[pqRefineGain]]'s e1
    * exactly, generalized over the layout). Pure scan-stage work —
    * the codebook is literals, there is no join anywhere.
    */
  def pqPermMse(corpus: DataFrame, idCol: String, vecCol: String,
      perm: Seq[Int], refined: Seq[(Int, Int, Seq[Double])],
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val trained = bySub(refined)
    // fused kernel — see [[pqRefineGain]]'s note
    usableVecs(corpus, idCol, vecCol)
      .select(col("id"), posexplode(array((0 until m).map { sub =>
        pqMinErrOf(subVec(col("vec"), Some(perm), sub, subDim), trained(sub))
      }: _*)).as(Seq("sub", "err")))
      .groupBy(col("sub").cast("long").as("sub"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("err")), 6).as("mse"))
  }

  // ========== semantic decontamination (cross-side matches) ==========

  /** Semantic decontamination: for every NON-held vector, its best
    * held-side witness at cosine ≥ τ — [[semanticDedup]]'s cell-
    * bounded pair discipline with the pair join oriented ACROSS the
    * held split instead of by id order (the embedding-space analogue
    * of the q59 n-gram decontamination family: a train doc is
    * contaminated when a held doc is semantically near it, even with
    * zero lexical overlap). `heldSide(id)` decides the split; cell
    * cap and zero-norm discipline are computed over BOTH sides
    * together, exactly as the corpus-wide dedup does, so the two
    * families cannot diverge on the degenerate-cell story.
    *
    * SAFETY CAVEAT (ADVICE r13): the cell cap silently DROPS whole
    * over-cap cells from detection. For dedup that is a recall trade;
    * for a decontamination safety filter a degenerate/collapsed cell
    * is exactly where contaminated mass concentrates — held-out leaks
    * in a hot cell would ship unflagged. Consumers MUST run
    * [[hotCells]] as a pre-flight gate (q178's discipline) and treat
    * any over-cap cell as a blocker (re-center / raise the cap /
    * exact-check the hot cell) before trusting this output.
    */
  def semanticContamination(corpus: DataFrame, idCol: String,
      vecCol: String, heldSide: Column => Column, tau: Double,
      nCells: Int = 16, cellCap: Int = 10000): DataFrame = {
    val c = pairFrame(corpus, idCol, vecCol, nCells, cellCap)
    val t = c.filter(!heldSide(col("id")))
      .select(col("cell"), col("id").as("vec_id"),
        col("vec").as("t_vec"), col("nrm").as("t_nrm"))
    val h = c.filter(heldSide(col("id")))
      .select(col("cell"), col("id").as("held_id"),
        col("vec").as("h_vec"), col("nrm").as("h_nrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("sim"), 6).desc, col("held_id").asc)
    t.join(h, Seq("cell"))
      .withColumn("sim",
        dot(col("t_vec"), col("h_vec")) / (col("t_nrm") * col("h_nrm")))
      .filter(round(col("sim"), 6) >= tau)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("held_id"),
        round(col("sim"), 6).as("sim"), col("cell"))
  }
}
