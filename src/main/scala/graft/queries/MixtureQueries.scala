package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis => TA}
import graft.streaming.Streaming
import graft.util.Tables

import Artifacts._
import Fragments._

/** Mixture family: splits, sampling, mixing weights, DSIR selection,
  * sequence packing, curriculum and training order.
  */
object MixtureQueries extends QueryFamily {
  /** Shared q120/q133 frame: per-doc logistic quality score (q108's
    * frozen weights) and the deterministic Efraimidis–Spirakis sample
    * key u^(1/w) (u an md5-derived uniform draw floored away from 0 —
    * prefix 000000 is legal, if astronomically rare). One definition so
    * the global (q120) and per-source (q133) samplers cannot
    * desynchronize on the weight or the draw. Pure scan-stage
    * arithmetic; `source` rides along for the grouped consumer.
    */
  private def esKeyFrame(s: SparkSession, d: String): DataFrame =
    docQuality(s, d)
      .withColumn("u", greatest(md5Uniform, lit(1e-9)))
      .withColumn("skey",
        round(pow(col("u"), lit(1.0) / col("quality_score")), 6))

  /** The curriculum phase frame shared by q209 (the schedule card),
    * the phase-pure packers (q215, q226) and the mixture orders (q236,
    * q241, q247, q250): per doc, the q108 frozen score, its ws-token
    * count, and the 1/2/3 phase from EXACT score terciles (the
    * distributed R-7 quantile shape — q153's discipline — so the
    * thresholds are a 2-scalar broadcast and assignment is a pure
    * scan). The cuts are computed on the docs matching `cutOn`: every
    * doc, or the v1 base slice whose thresholds a release freezes
    * (q241, q250). One definition so the schedule and the packers
    * cannot desynchronize on a threshold.
    */
  private def curriculumFrame(s: SparkSession, d: String,
      cutOn: Column): DataFrame = {
    val q = docQuality(s, d)
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
    q.join(toks, Seq("doc_id")).crossJoin(broadcast(terciles(q.filter(cutOn))))
      .withColumn("phase", phaseOf(col("t1"), col("t2")))
  }

  /** The two quality_score tercile cuts (t1, t2) of `q`, one row. */
  private def terciles(q: DataFrame): DataFrame =
    sourceQuantiles(q, Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"),
        keys = Seq.empty, valueCol = "quality_score")
      .select(col("t1"), col("t2"))

  /** The curriculum phase of `quality_score` under the cuts lo < hi. */
  private def phaseOf(lo: Column, hi: Column): Column =
    when(col("quality_score") <= lo, 1L)
      .when(col("quality_score") <= hi, 2L).otherwise(3L)

  /** [[curriculumFrame]] as FFD pack input: the `phase:source`
    * composite shard key, so a sequence never mixes phases.
    */
  private def phasedPackInput(s: SparkSession, d: String,
      cutOn: Column): DataFrame =
    curriculumFrame(s, d, cutOn)
      .select(col("doc_id"),
        concat_ws(":", col("phase"), col("source")).as("source"),
        col("n_tokens"))
      .filter(col("n_tokens") > 0)

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

  /** The 512-token sequence budget of the FFD packing family — ONE
    * constant interpolated into [[ffdPack]], q196's waste arithmetic,
    * and the [[ffdFoldSqlFor]]/q196 oracle SQL (ADVICE r14: the
    * literal was re-spelled independently at each site, defeating the
    * "must never diverge" comment that keeps ffdPack non-parametric).
    * Wave17Spec's conservation invariants reference it too.
    */
  private[graft] val packBudget = 512L

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

  /** The FFD pack input of a documents-shaped frame: (doc_id, source,
    * n_tokens = normalized word count), empty docs dropped.
    */
  private def packInput(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(TA.normWords(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)

  /** q192's concat-and-chunk layout of a [[packInput]] frame: per
    * source, docs concatenated in doc_id order and cut into
    * [[packBudget]]-token sequences; per doc, its token offset `off`
    * in the stream and the first/last sequence it spans (shared by
    * q192, q194 and q196).
    */
  private def chunkSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_first", expr(s"off div $packBudget"))
      .withColumn("seq_last", expr(s"(off + n_tokens - 1) div $packBudget"))
  }

  /** [[ffdPack]] of `docs` into NEW sequences only: each seq_id
    * continues past the per-source max(seq_id) + 1 of the `prior`
    * manifest (from 0 for a source `prior` lacks) — the incremental-
    * packing rule that keeps released sequences immutable (q218, q221,
    * q223, q225, q233).
    */
  private def packAfter(prior: DataFrame, docs: DataFrame): DataFrame = {
    val seq0 = prior.groupBy(col("source"))
      .agg((max(col("seq_id")) + 1).as("seq0"))
    ffdPack(docs)
      .join(seq0, Seq("source"), "left")
      .withColumn("seq_id", col("seq_id") + coalesce(col("seq0"), lit(0L)))
      .drop("seq0")
  }

  /** Shard count of the loader-shard family (q208, q223, q226, q230,
    * q233, q244) — ONE constant interpolated into both the Spark shard
    * rule and the oracle SQL so the two sides cannot diverge (the
    * [[packBudget]] discipline). The rule draws from one hex char of
    * the md5 prefix, so it is honest only for counts up to 16.
    */
  private val orderShards = 8

  /** The first md5 hex char of `key` as 0..15, mod `n`. */
  private def md5Hex1Mod(key: Column, n: Long): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 1), 16, 10).cast("long"),
      lit(n))

  /** The loader shard of a packed sequence: a content hash of its
    * (source, seq_id) key, never a row number, so it is reproducible
    * across re-runs and independent of scan order.
    */
  private def shardId: Column = md5Hex1Mod(
    concat_ws(":", col("source"), col("seq_id").cast("string")), orderShards)

  /** The sequence frame of the uniform training order (q230, q233,
    * q244): a packed manifest aggregated per (source, seq_id) to
    * n_docs, kept_tokens and the `extra` aggregates, keyed by the
    * seeded v1 shuffle draw, the loader shard, and src_pos — the
    * 0-based rank by (draw, seq_id) within the source.
    */
  private def orderSeqs(packed: DataFrame, extra: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("draw"), col("seq_id"))
    packed.groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_kept")).as("kept_tokens") +: extra: _*)
      .withColumn("draw", substring(md5(concat_ws(":", lit("graft-order-v1"),
        col("source"), col("seq_id").cast("string"))), 1, 8))
      .withColumn("shard_id", shardId)
      .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1)
  }

  /** The uniform order of an [[orderSeqs]] frame: global_pos is
    * [[interleaveRank]] over each source's src_pos span (from 0 in a
    * fresh release, past the released count in an appended block),
    * shard_offset the rank by (src_pos, source) within the shard.
    */
  private def uniformOrder(seqs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = seqs.groupBy(col("source"))
      .agg(min(col("src_pos")).as("lo"), count(lit(1)).as("n"))
    val wShard = Window.partitionBy(col("shard_id"))
      .orderBy(col("src_pos"), col("source"))
    interleaveRank(seqs, spans)
      .withColumn("shard_offset", row_number().over(wShard).cast("long") - 1)
  }

  /** The 2.0× per-source water-fill a mixture order commits (q236,
    * q241, q247, q250): (source, final_epochs) from the ws-token counts
    * of `docs`.
    */
  private def committedFill(docs: DataFrame): DataFrame =
    waterFillAlloc(
        docs.select(col("source"),
            size(TA.wsTokens(col("text"))).cast("long").as("nt"))
          .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
          .filter(col("n_tokens") > 0)
          .select(col("source").as("lang"), col("n_tokens")), Seq(2.0))
      .select(col("lang").as("source"), col("final_epochs"))

  /** The committed stream's occurrence rows of a sequence frame `seqs`
    * (`keys` ending in phase, source; plus seq_id): per (keys) group,
    * ⌊e⌋ full epochs plus a partial pass of ⌊round(frac·n, 6)⌋
    * sequences under the frozen `fill` epochs e, every epoch shuffled
    * by its own seeded draw and the partial pass taking its draw
    * prefix. Shared by the ranked order ([[chainedMixtureOrder]]) and
    * q247's unranked cost card.
    */
  private def epochOccurrences(seqs: DataFrame, fill: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = keys.map(col)
    val ep = seqs.groupBy(k: _*).agg(count(lit(1)).as("n_ps"))
      .join(fill, Seq("source"))
      .withColumn("fe", floor(col("final_epochs")))
      .withColumn("n_part", floor(round(
        (col("final_epochs") - floor(col("final_epochs")).cast("double"))
          * col("n_ps").cast("double"), 6)))
      .select(k :+ col("fe") :+ col("n_part"): _*)
    val wEp = Window.partitionBy(k :+ col("epoch"): _*)
      .orderBy(col("draw"), col("seq_id"))
    seqs.join(broadcast(ep), keys)
      .withColumn("epoch", explode(sequence(lit(0L), col("fe"))))
      .withColumn("draw", substring(md5(concat_ws(":",
        lit("graft-order-v2"), col("epoch").cast("string"),
        col("phase").cast("string"), col("source"),
        col("seq_id").cast("string"))), 1, 8))
      .withColumn("er", row_number().over(wEp).cast("long"))
      .filter(col("epoch") < col("fe") || col("er") <= col("n_part"))
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
    * fixture) and the unchanged q241/q250 DuckDB oracles. A one-step
    * chain is q236's single ordered block: every shift is 0.
    *
    * `ph` is the phased doc frame (doc_id, source = "phase:source",
    * n_tokens > 0); `fill` the frozen water-fill epochs; `steps` the
    * chain as (origin label, membership predicate on doc_id-derived
    * columns) in ship order — the predicates must partition `ph`
    * (the last step's is not evaluated: it takes the remaining rows).
    */
  private[graft] def chainedMixtureOrder(ph: DataFrame, fill: DataFrame,
      steps: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(steps.nonEmpty, "chainedMixtureOrder: need at least one step")
    // origin index = position in the chain (all cursors read low→high);
    // the last step takes every row no earlier predicate matched
    val oCol = steps.init.zipWithIndex
      .foldRight(lit(steps.size - 1L)) { case (((_, pred), i), acc) =>
        when(pred, lit(i.toLong)).otherwise(acc)
      }
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
    // the ordered-block body, every frame keyed by origin too
    val wSrc = Window.partitionBy(col("o"), col("phase"), col("source"))
      .orderBy(col("epoch"), col("draw"), col("seq_id"))
    val rows = graft.util.Persist(
      epochOccurrences(seqs, fill, Seq("o", "phase", "source"))
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

  /** The budget-bucket pack of q61 (whitespace tokens) and q125 (BPE
    * tokens): within its source, in doc_id order, a doc's preceding
    * token total picks its 512-token sequence; one row per
    * (source, seq_id) with its doc and token counts.
    */
  private def budgetPack(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("prev_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("prev_tokens") / lit(512)).cast("long"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  val queries: Map[String, Q] = Map(
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
    "q125_bpe_pack" -> ((s, d) => budgetPack(bpeEncoded(s, d))),

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

    // ---- sequence packing: assign docs to fixed-token-budget training
    //      sequences per source shard (running token total → budget
    //      bucket). One shuffle keyed by the shard; at 100 TB the shard
    //      key is (source × file split) so no global order is needed ----
    "q61_pack_sequences" -> ((s, d) =>
      budgetPack(Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens")))),

    // ---- quality-score importance resampling (CCNet-style soft
    //      filter): keep a doc with probability equal to its q108
    //      quality score, decided by a DETERMINISTIC per-doc uniform
    //      draw (md5(doc_id) first 6 hex / 0xffffff) so the sample is
    //      reproducible across engines and runs — the soft alternative
    //      to a hard keep/drop threshold that preserves a graded
    //      quality mix. Pure scan-stage arithmetic; zero shuffles
    //      before the output sort ----
    "q119_quality_resample" -> ((s, d) => {
      docQuality(s, d)
        .select(col("doc_id"), col("quality_score"), md5Uniform.as("u"))
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
      val kept = docs.select(col("lang"), md5Uniform.as("u"))
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
      val manifest = chunkSpans(packInput(Tables.documents(s, d)))
        .select(col("source"), col("seq_first"), col("seq_last"))
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
    "q192_concat_chunk" -> ((s, d) =>
      chunkSpans(packInput(Tables.documents(s, d)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_first"), col("seq_last"),
          pmod(col("off"), lit(packBudget)).as("offset_in_seq"))
        .orderBy(col("doc_id"))),

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
    "q195_pack_ffd" -> ((s, d) =>
      ffdPack(packInput(Tables.documents(s, d))).orderBy(col("doc_id"))),

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
      // two consumers (the chunking window and the FFD fold) of the
      // tokenized frame — persist so the doc scan + tokenization runs
      // once (q64's policy switch applies at corpus scale)
      val docs = graft.util.Persist(packInput(Tables.documents(s, d)))
      val cc = chunkSpans(docs)
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
      val seqs = ffdPack(packInput(Tables.documents(s, d)))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("nd"), sum(col("n_kept")).as("kept"))
        .withColumn("shard_id", shardId)
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
      val ph = curriculumFrame(s, d, lit(true))
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
      val batchOf = md5Hex1Mod(col("doc_id"), 3)
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
      val batchOf = md5Hex1Mod(col("doc_id"), 3)
      val prior0 = artifact(s, d, "q214_prior", Some(1)) {
        val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = cnt.agg(sum(col("n_docs")).as("tot"))
        cnt.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            (col("n_docs").cast("double") / col("tot")).as("w"))
      }
      val in = sharedInputDir(d, "q214_in") { p =>
        writeOrderedBatches(p, Seq(0L, 1L, 2L).map(k =>
          docs.filter(batchOf === k)))
      }
      val dir = tempQueryDir("graft_q214_smix_")
      val wRoot = s"$dir/w"; val mRoot = s"$dir/m"; val ck = s"$dir/ck"
      val stream = Streaming.eventsStream(s, in, docs.schema)
      Streaming.drain(stream, ck, 2) { (batch, id) =>
        val means = qualityOf(batch).groupBy(col("source"))
          .agg(round(avg(col("quality_score")), 6).as("m"))
        Streaming.writeBatch(means, id, mRoot, append = true)
        val prior = if (id == 0L)
            prior0.select(col("source"), col("n_docs"), col("w"))
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
      }
      val w0 = prior0.select(col("source"), col("n_docs"), col("w").as("wv0"))
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
      ffdPack(phasedPackInput(s, d, lit(true)))
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
      val docs = Tables.documents(s, d)
      val pb = ffdPack(packInput(docs.filter(!isDeltaDoc(col("doc_id")))))
        .select(col("doc_id"), col("source"), col("seq_id").as("b_seq"),
          col("offset_in_seq").as("b_off"))
      val pf = ffdPack(packInput(docs))
        .select(col("doc_id"), col("seq_id").as("f_seq"),
          col("offset_in_seq").as("f_off"))
      val nd = packInput(docs.filter(isDeltaDoc(col("doc_id"))))
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
      val docs = Tables.documents(s, d)
      // two consumers (the union and the per-source seq offsets) of
      // the base fold — persist so it runs once
      val base = graft.util.Persist(
        ffdPack(packInput(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val delta = packAfter(base,
        packInput(docs.filter(isDeltaDoc(col("doc_id")))))
      base.withColumn("origin", lit("base"))
        .unionByName(delta.withColumn("origin", lit("delta")))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"),
          col("offset_in_seq"), col("n_kept"), col("n_dropped"),
          col("origin"))
        .orderBy(col("doc_id"))
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
      val docs = Tables.documents(s, d)
      val base = graft.util.Persist(
        ffdPack(packInput(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val d1 = graft.util.Persist(packAfter(base, packInput(docs.filter(
        isDeltaDoc(col("doc_id")) && isFirstIngest(col("doc_id"))))))
      val d2 = packAfter(base.unionByName(d1), packInput(docs.filter(
        isDeltaDoc(col("doc_id")) && !isFirstIngest(col("doc_id")))))
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
      val thB = terciles(q.filter(!col("is_delta")))
        .select(col("t1").as("b1"), col("t2").as("b2"))
      val thF = terciles(q).select(col("t1").as("f1"), col("t2").as("f2"))
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
      val docs = Tables.documents(s, d)
      val base = graft.util.Persist(
        ffdPack(packInput(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val delta = packAfter(base,
        packInput(docs.filter(isDeltaDoc(col("doc_id")))))
      def seqsOf(df: DataFrame) = df
        .groupBy(col("source"), col("seq_id"))
        .agg(sum(col("n_kept")).as("kept"))
        .withColumn("shard_id", shardId)
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
      val dir = tempQueryDir("graft_q224_squota_")
      val skRoot = s"$dir/sk"; val cntRoot = s"$dir/cnt"; val ck = s"$dir/ck"
      val stream = stagedStream(s, d, "q224_in", docs, 3)
      Streaming.drain(stream, ck, 4) { (batch, id) =>
        val b = batch
          .select(col("doc_id"), col("lang"), col("source"),
            size(TA.wsTokens(col("text"))).cast("long").as("n_tokens"))
        val w = Window.partitionBy(col("lang"), col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Streaming.writeBatch(
          b.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 8)
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_tokens")), id, skRoot, append = true)
        Streaming.writeBatch(
          b.groupBy(col("lang"), col("source"))
            .agg(count(lit(1)).as("n")), id, cntRoot, append = true)
      }
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
      val docs = Tables.documents(s, d)
      val base = artifact(s, d, "q225_base")(
        ffdPack(packInput(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val in = sharedInputDir(d, "q225_in") { p =>
        writeOrderedBatches(p, Seq(
          docs.filter(isDeltaDoc(col("doc_id")) &&
              isFirstIngest(col("doc_id")))
            .select(col("doc_id"), col("source"), col("text")),
          docs.filter(isDeltaDoc(col("doc_id")) &&
              !isFirstIngest(col("doc_id")))
            .select(col("doc_id"), col("source"), col("text"))))
      }
      val dir = tempQueryDir("graft_q225_spack_")
      val mRoot = s"$dir/m"; val ck = s"$dir/ck"
      val inSchema = docs.select(col("doc_id"), col("source"), col("text"))
        .schema
      val stream = Streaming.eventsStream(s, in, inSchema)
      Streaming.drain(stream, ck, 2) { (batch, id) =>
        val prior =
          if (id == 0L) base.select(col("source"), col("seq_id"))
          else base.select(col("source"), col("seq_id"))
            .unionByName(s.read.parquet(mRoot)
              .filter(col("batch_id") < id)
              .select(col("source"), col("seq_id")))
        Streaming.writeBatch(packAfter(prior, packInput(batch)), id, mRoot,
          append = true)
      }
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
      ffdPack(phasedPackInput(s, d, lit(true)))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("nd"), sum(col("n_kept")).as("kept"))
        .withColumn("phase", split(col("source"), ":").getItem(0)
          .cast("long"))
        .withColumn("shard_id", shardId)
        .groupBy(col("phase"), col("shard_id"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("nd")).as("n_docs"),
          sum(col("kept")).as("kept_tokens"))
        .select(col("phase"), col("shard_id"), col("n_seqs"), col("n_docs"),
          col("kept_tokens"),
          (col("n_seqs") * packBudget - col("kept_tokens"))
            .as("pad_tokens"))
        .orderBy(col("phase"), col("shard_id"))
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
    //      window partitioned by the shard id (q208's rule, 8 shards) ----
    "q230_training_order" -> ((s, d) => {
      // two consumers (the span frame + the ranked rows) — persist so
      // the packing fold runs once
      val seqs = graft.util.Persist(
        orderSeqs(ffdPack(packInput(Tables.documents(s, d)))))
      uniformOrder(seqs)
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
      val docs = Tables.documents(s, d)
      val base = graft.util.Persist(
        ffdPack(packInput(docs.filter(!isDeltaDoc(col("doc_id"))))))
      val delta = packAfter(base,
        packInput(docs.filter(isDeltaDoc(col("doc_id")))))
      // multiple consumers of the released manifest (rows + span and
      // cursor-state count frames) — persist so the fold runs once.
      // global_pos is the interleaveRank closed form on BOTH blocks
      // (VERDICT r16 #1) — no total-order window anywhere
      val relBase = graft.util.Persist(orderSeqs(base))
      val rel = uniformOrder(relBase)
      val srcCnt = relBase.groupBy(col("source")).agg(count(lit(1)).as("sc"))
      val shCnt = relBase.groupBy(col("shard_id")).agg(count(lit(1)).as("hc"))
      val tot = relBase.agg(count(lit(1)).as("tc"))
      // appended block: absolute src_pos = released count + local
      // rank, so its span frame reads straight off the offset rows
      // (lo = min absolute position = the released per-source count)
      val appBase = graft.util.Persist(orderSeqs(delta)
        .join(broadcast(srcCnt), Seq("source"), "left")
        .withColumn("src_pos", col("src_pos") + coalesce(col("sc"), lit(0L)))
        .drop("sc"))
      val app = uniformOrder(appBase)
        .crossJoin(broadcast(tot))
        .withColumn("global_pos", col("global_pos") + col("tc"))
        .drop("tc")
        .join(broadcast(shCnt), Seq("shard_id"), "left")
        .withColumn("shard_offset",
          col("shard_offset") + coalesce(col("hc"), lit(0L)))
        .drop("hc")
      rel.withColumn("origin", lit("released"))
        .unionByName(app.withColumn("origin", lit("appended")))
        .select(col("global_pos"), col("source"), col("seq_id"),
          col("shard_id"), col("shard_offset"), col("src_pos"),
          col("n_docs"), col("kept_tokens"), col("draw"), col("origin"))
        .orderBy(col("global_pos"))
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
    "q236_mixture_order" -> ((s, d) =>
      chainedMixtureOrder(phasedPackInput(s, d, lit(true)),
          committedFill(Tables.documents(s, d)), Seq(("all", lit(true))))
        .drop("origin")),

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
      // FROZEN v1 artifacts: the tercile cuts and the committed
      // mixture, both computed on the base slice; every doc is phased
      // under the frozen cuts. Persisted (round 18): the chained
      // ffdPack folds each replay the quality-score + tokenize
      // lineage otherwise (guide §5)
      val ph = graft.util.Persist(phasedPackInput(s, d, !isD))
      // FUSED chain (round 19): one pack under the origin-composite
      // key + closed-form cursors — row-identical to the released/
      // appended two-step fold by [[chainedMixtureOrder]]'s argument
      // (Wave32Spec pins it against the inlined old fold)
      chainedMixtureOrder(ph,
        committedFill(Tables.documents(s, d).filter(!isD)),
        Seq(("released", !isD), ("appended", isD)))
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
      val tomb = isTombstoned(col("doc_id"))
      // the q230 sequence frame + the per-sequence mask accounting in
      // ONE aggregate over the packing fold (offset_in_seq/n_kept are
      // exactly the span a tombstone masks)
      val seqs = graft.util.Persist(orderSeqs(
        ffdPack(packInput(Tables.documents(s, d))),
        count(when(tomb, lit(1))).as("n_masked_docs"),
        coalesce(sum(when(tomb, col("n_kept"))), lit(0L)).as("masked_tokens"),
        substring(md5(concat_ws(",", transform(
          sort_array(collect_list(when(tomb,
            struct(col("offset_in_seq").as("o"), col("n_kept").as("t"))))),
          x => concat_ws(":", x.getField("o"), x.getField("t"))))), 1, 16)
          .as("masked_spans_fp")))
      val wSh = Window.partitionBy(col("shard_id"))
      uniformOrder(seqs)
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
      val tomb = isTombstoned(col("doc_id"))
      // ONE fold: the seq frame and the mask accounting read the
      // same packed rows (tombstoned spans can never desynchronize
      // from the sequences they live in)
      val packed = graft.util.Persist(
        ffdPack(phasedPackInput(s, d, lit(true))))
      val seqs = packed.groupBy(col("source"), col("seq_id"))
        .agg(sum(col("n_kept")).as("kept_tokens"),
          coalesce(sum(when(tomb, col("n_kept"))), lit(0L))
            .as("masked_tokens"))
        .select(split(col("source"), ":").getItem(0).cast("long").as("phase"),
          split(col("source"), ":").getItem(1).as("source"),
          col("seq_id"), col("kept_tokens"), col("masked_tokens"))
      // the q236 occurrence rows (epoch explosion + partial-pass
      // membership), WITHOUT the rank — a pure cost card
      epochOccurrences(seqs, committedFill(Tables.documents(s, d)),
          Seq("phase", "source"))
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
      // FROZEN v1 artifacts (q241's); persisted (round 18): the
      // chained ffdPack folds each replay the quality-score + tokenize
      // lineage otherwise (guide §5)
      val ph = graft.util.Persist(phasedPackInput(s, d, !isD))
      // FUSED chain (round 19): one pack under the origin-composite
      // key + closed-form cursors — row-identical to the three-step
      // greatest/full-join cursor fold by [[chainedMixtureOrder]]'s
      // argument (Wave32Spec pins it against the inlined old fold)
      chainedMixtureOrder(ph,
        committedFill(Tables.documents(s, d).filter(!isD)), Seq(
          ("released", !isD),
          ("append1", hex1(col("doc_id")) === "0"),
          ("append2", hex1(col("doc_id")).isin("1", "2"))))
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

  /** Per-document token counts: the `cols` columns, then `n_tokens`
    * counted over `toks`, a DuckDB list expression on `text`.
    */
  private def nTokensSql(cols: String,
      toks: String = duckNormWords): String =
    s"""SELECT $cols,
             CAST(len($toks) AS BIGINT) AS n_tokens
           FROM documents"""

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
      tokensSql: String = nTokensSql("doc_id, source")): String = s"""
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

  /** The q132/q139 shared split-assignment CTE chain: MinHash
    * candidate graph → recursive connected components → cluster
    * representative → naive (doc_id) and cluster (rep) md5-bucket
    * splits, mirroring [[splitAssignments]] exactly. Callers prepend
    * `WITH RECURSIVE`.
    */
  private lazy val splitCtes: String = s"""$bandedSigSql,
         cand AS (${lshPairsSql(2)}),
         ${reachSql("cand")},
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

  val oracleSql: Map[String, String] = Map(
    "q125_bpe_pack" -> bpePackSql,
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
    "q77_domain_epochs" ->
      """WITH epochs(source, n_epochs) AS (VALUES ('src0', 3), ('src1', 2)),
         d AS (SELECT doc_id, documents.source AS source,
             coalesce(n_epochs, 1) AS n
           FROM documents LEFT JOIN epochs ON documents.source = epochs.source)
         SELECT doc_id, source,
           CAST(unnest(generate_series(1, n)) AS BIGINT) AS epoch
         FROM d ORDER BY doc_id, epoch""",
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
    "q49_stratified_sample" ->
      """SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM (
           SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) t
         WHERE rn <= 20 ORDER BY lang, rn""",
    "q61_pack_sequences" -> s"""
         WITH t AS (${nTokensSql("source, doc_id", duckToks("text"))}),
         c AS (SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM t)
         SELECT source, CAST(prev // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         FROM c GROUP BY 1, 2 ORDER BY source, seq_id""",
    "q119_quality_resample" -> s"""
         WITH t AS (SELECT doc_id, text, ${duckToks("text")} AS toks FROM documents),
         ${duckQualityFeatures()},
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
         ${duckQualityFeatures()},
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
         ${duckQualityFeatures(", source")},
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
    "q147_source_mix_drift" -> s"""
         WITH sd AS (SELECT doc_id, source,
             CASE WHEN ${duckDelta("doc_id")} THEN 'delta' ELSE 'base' END AS side
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
    // concat-chunk packing: one running-total window per source shard,
    // all sequence arithmetic in integer space
    "q192_concat_chunk" -> s"""
         WITH ccd AS (${nTokensSql("doc_id, source")}),
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
             ${duckDelta("doc_id")} AS is_delta,
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
         WITH ppd AS (${nTokensSql("doc_id, source")}),
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
    // DSIR retrain trigger: q193's frozen-model chain with per-source
    // keep counts on both slices, two-bucket PSI on the keep decision
    "q198_dsir_drift" -> s"""
         WITH drw AS (SELECT doc_id, source, $duckNormWords AS words
           FROM documents),
         drp AS (SELECT doc_id, source, words,
             unnest(generate_series(1, len(words) - 1)) AS i
           FROM drw WHERE len(words) >= 2),
         dro AS (SELECT doc_id, source,
             ${duckDelta("doc_id")} AS is_delta,
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
         cnt AS (${nTokensSql("doc_id", duckToks("text"))}),
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
    // the q209 phase CTEs feeding the FFD fold over the composite
    // (phase : source) shard key, aggregated to the phase-budget card
    "q215_curriculum_packing" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         kcnt AS (${nTokensSql("doc_id", duckToks("text"))}),
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
    // two FFD folds (base slice / full corpus) joined on doc_id, plus
    // the per-source delta-ingest counts
    "q217_repack_churn" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("rb", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckBase("doc_id")}""")},
         ${ffdFoldSqlFor("rf")},
         rbj AS (SELECT doc_id, source, seq_id AS b_seq, off AS b_off
           FROM rbfold WHERE doc_id IS NOT NULL),
         rfj AS (SELECT doc_id, seq_id AS f_seq, off AS f_off
           FROM rffold WHERE doc_id IS NOT NULL),
         rdd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_delta_docs
           FROM documents
           WHERE ${duckDelta("doc_id")}
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
         ${ffdFoldSqlFor("ib", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckBase("doc_id")}""")},
         ${ffdFoldSqlFor("idl", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckDelta("doc_id")}""")},
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
             ${duckDelta("doc_id")} AS is_delta
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
         ${ffdFoldSqlFor("mb", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckBase("doc_id")}""")},
         ${ffdFoldSqlFor("md", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckDelta("doc_id")}""")},
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
         acnt AS (${nTokensSql("doc_id", duckToks("text"))}),
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
           duckBase("doc_id"))},
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
    // two folds (base alone, delta with chained per-source seq
    // offsets — packingChainSql's discipline), the q230 draw/shard
    // rules, released ranks frozen, appended ranks offset by the
    // released source/shard/total counts
    "q233_order_append" -> s"""
         WITH RECURSIVE
         ${ffdFoldSqlFor("oba", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckBase("doc_id")}""")},
         ${ffdFoldSqlFor("oda", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckDelta("doc_id")}""")},
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
    // the committed mixture applied to the order manifest: q228's
    // fill source-keyed at 2.0x, q215's phase-pure fold, per-epoch
    // reshuffled draws with the fractional-pass prefix, then the
    // weighted interleave replayed by integer cross-multiplication
    // (the Spark side's closed form, row for row)
    "q236_mixture_order" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ${waterFillSqlFor("mw", "TRUE", keyCol = "source",
           budgetX = "2.0")},
         mcnt AS (${nTokensSql("doc_id", duckToks("text"))}),
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
    // FROZEN v1 artifacts (terciles + fill on the v1 slice), every
    // doc phased under them, two packing folds with the q233
    // composite-key seq offset, one mixtureBlockSqlFor per block,
    // appended positions offset past the released cursor counts
    "q241_mixture_append" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ath AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2
           FROM sc WHERE ${duckBase("doc_id")}),
         ${waterFillSqlFor("aw",
           duckBase("doc_id"),
           keyCol = "source", budgetX = "2.0")},
         acnt AS (${nTokensSql("doc_id", duckToks("text"))}),
         aph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN acnt USING (doc_id), ath),
         ${ffdFoldSqlFor("ar",
           s"""SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE ${duckBase("doc_id")}""")},
         ${ffdFoldSqlFor("ad",
           s"""SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE ${duckDelta("doc_id")}""")},
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
               ${duckTombstoned("doc_id")})
               AS BIGINT) AS n_masked_docs,
             CAST(COALESCE(SUM(t) FILTER (
               ${duckTombstoned("doc_id")}), 0)
               AS BIGINT) AS masked_tokens,
             substr(md5(COALESCE(string_agg(
               CAST(off AS VARCHAR) || ':' || CAST(t AS VARCHAR), ','
               ORDER BY off, t) FILTER (
               ${duckTombstoned("doc_id")}), '')),
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
    // the q236 occurrence machinery (fold, fill, epochs, draws,
    // partial-pass rule) with the q244 tombstone mask carried on the
    // seq frame, aggregated per (phase, source) — no rank CTEs
    "q247_takedown_stream_cost" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ${waterFillSqlFor("mw", "TRUE", keyCol = "source",
           budgetX = "2.0")},
         mcnt AS (${nTokensSql("doc_id", duckToks("text"))}),
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
               ${duckTombstoned("doc_id")}), 0)
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
    // the q241 frozen artifacts, THREE chained folds (each ingest's
    // seq ids offset past the running union max), one
    // mixtureBlockSqlFor per step, positions offset by the running
    // cursor counts of everything shipped before the step
    "q250_mixture_chain" -> s"""
         WITH RECURSIVE $duckQualityCtes,
         ath AS (SELECT round(quantile_cont(quality_score, 1.0/3), 6) AS t1,
             round(quantile_cont(quality_score, 2.0/3), 6) AS t2
           FROM sc WHERE ${duckBase("doc_id")}),
         ${waterFillSqlFor("aw",
           duckBase("doc_id"),
           keyCol = "source", budgetX = "2.0")},
         acnt AS (${nTokensSql("doc_id", duckToks("text"))}),
         aph AS (SELECT sc.doc_id,
             CAST(CASE WHEN quality_score <= t1 THEN 1
                  WHEN quality_score <= t2 THEN 2 ELSE 3 END AS BIGINT)
               AS phase, source, n_tokens
           FROM sc JOIN acnt USING (doc_id), ath),
         ${ffdFoldSqlFor("cr",
           s"""SELECT doc_id, CAST(phase AS VARCHAR) || ':' || source
                AS source, n_tokens FROM aph
              WHERE ${duckBase("doc_id")}""")},
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
         ORDER BY global_pos""")

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

  /** The quota-sample oracle shared VERBATIM by q211 (the batch card)
    * and q224 (the streaming reservoir): per-cell min-8-by-content-hash
    * is a mergeable sketch, so the stream must reproduce the batch
    * card exactly under any batch membership.
    */
  private lazy val quotaSampleSql: String = s"""
         WITH qdt AS (${nTokensSql("doc_id, lang, source", duckToks("text"))}),
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
         ${ffdFoldSqlFor("pb", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckBase("doc_id")}""")},
         ${ffdFoldSqlFor("pi", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckDelta("doc_id")}
             AND substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)
               IN ('0', '1', '2', '3', '4', '5', '6', '7')""")},
         ${ffdFoldSqlFor("pj", s"""${nTokensSql("doc_id, source")}
           WHERE ${duckDelta("doc_id")}
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
}
