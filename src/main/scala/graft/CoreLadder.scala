package graft

import org.apache.spark.sql.functions._

/** Core-count scaling ladder at SYNTHETIC scale (VERDICT r18 #7 / #6:
  * the sf0.1 fixtures total ~17 MB, so every bench query is
  * scheduling-bound and the 8-vs-32-core ratios prove nothing about
  * the 100 TB story). This harness replicates the sf0.1
  * documents/embeddings fixtures `factor`× (ids offset per replica,
  * text suffixed, vectors uniformly scaled per replica so coarse-cell
  * argmaxes are preserved and index mass grows exactly ×factor), then
  * times a scan/compute-heavy query subset at 8 and 32 cores in the
  * SAME JVM (sequential sessions, bench-identical config) and prints
  * the markdown committed as the round's scaling evidence.
  *
  * Deliberately EXCLUDED: pair-quadratic queries (semantic/minhash
  * dedup emit O(bucket²) pairs over replica near-dups — at ×64 that
  * measures the synthetic degeneracy, not scan scaling) and the
  * streaming family (micro-batch fixed costs are the known floor).
  *
  * Usage: runMain graft.Dev core-ladder [factor] [query ...]
  */
object CoreLadder {
  private val DefaultQueries = Seq(
    "q23_simhash", "q26_langid", "q29_fingerprint", "q94_quantized_ann",
    "q97_quantized_recall", "q122_bpe_encode", "q129_pq_distortion",
    "q184_opq_gain", "q237_residual_opq", "q130_pq_train")

  private[graft] def run(src: String, args: Seq[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(64)
    val queries = if (args.length > 1) args.drop(1) else DefaultQueries
    val out = s"/tmp/graft_core_ladder_x$factor"

    // ---- build the scaled fixture once (deterministic) ----
    if (!new java.io.File(s"$out/_built").exists()) {
      val s = graft.util.GraftSession.builder("32").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      val docs = graft.util.Tables.documents(s, src)
      val emb = graft.util.Tables.embeddings(s, src)
      val reps = s.range(0, factor).select(col("id").as("r"))
      docs.crossJoin(reps)
        .select((col("doc_id") + col("r") * 10000000L).as("doc_id"),
          concat(col("text"), lit(" repl"), col("r")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      emb.crossJoin(reps)
        .select((col("vec_id") + col("r") * 10000000L).as("vec_id"),
          transform(col("embedding"),
            x => x * (lit(1.0f) + col("r").cast("float") * lit(1e-4f)))
            .as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/_built"), s"factor=$factor\n")
      s.stop()
    }

    // ---- time each query at each core count (bench protocol: warm
    // run, cold cache, noop sink, median of 3) ----
    def timeAll(cpus: String): Map[String, Double] = {
      val s = graft.util.GraftSession.builder(cpus).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val res = queries.map { name =>
        val fn = SparkEntry.queries(name)
        fn(s, out).write.format("noop").mode("overwrite").save() // warm
        val ts = (1 to 3).map { _ =>
          s.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          fn(s, out).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        name -> ts(1)
      }.toMap
      s.stop()
      res
    }
    val t32 = timeAll("32")
    val t8 = timeAll("8")
    println(s"| query | x$factor t8 (s) | x$factor t32 (s) | t8/t32 |")
    println("|---|---|---|---|")
    queries.foreach { q =>
      println(f"| $q | ${t8(q)}%.2f | ${t32(q)}%.2f | ${t8(q) / t32(q)}%.2f |")
    }
  }
}
