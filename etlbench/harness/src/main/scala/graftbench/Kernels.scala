package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Isolated throughput of each expression `graft.etl.expressions.Registry`
  * registers, over `spark.range`-generated inputs that are cached before
  * timing, with codegen forced (`CODEGEN_ONLY`) on a child session so
  * the caller's session config is untouched.
  */
object Kernels {
  /** One call per registered SQL function, over the cached columns
    * `s`, `t` (text), `d` (French date text), `v`, `w` (array<double>)
    * and `lv`, `lw` (array<bigint>).
    */
  val calls: Seq[(String, String)] = Seq(
    "strip_accents" -> "strip_accents(s)",
    "parse_fr_datetime" -> "parse_fr_datetime(d)",
    "seq_ratio" -> "seq_ratio(s, t)",
    "char_shingles" -> "char_shingles(s, 5)",
    "minhash_bands" -> "minhash_bands(s, 5)",
    "ngram_jaccard" -> "ngram_jaccard(s, t, 3)",
    "word_gram_hashes" -> "word_gram_hashes(s, 2, 8)",
    "simhash16" -> "simhash16(s)",
    "simhash64" -> "simhash64(s)",
    "char_bigrams" -> "char_bigrams(s)",
    "dot_fold" -> "dot_fold(v, w)",
    "dot_fold_long" -> "dot_fold_long(lv, lw)",
    "vec_sub" -> "vec_sub(v, w)",
    "max_abs_fold" -> "max_abs_fold(v)",
    "quantize_int8" -> "quantize_int8(v, 0.05d)",
    "cdc_chunks" -> "cdc_chunks(s, 8, 15)")

  private val inputs = Seq(
    "concat('Électro Fête n°', id % 977, ' au Trianon — ', " +
      "repeat('concert live ', 1 + cast(id % 4 as int)), 'séance ', id % 31) as s",
    "concat('Electro Fete no ', id % 991, ' au Trianon - ', " +
      "repeat('concert live ', 1 + cast(id % 3 as int)), 'seance ', id % 29) as t",
    "concat('samedi ', 1 + id % 28, ' octobre 2024 à ', id % 24, 'h', " +
      "lpad(cast(id % 60 as string), 2, '0')) as d",
    "transform(sequence(0, 31), i -> cast((id * 31 + i * 17) % 101 as double) / 101.0 - 0.5) as v",
    "transform(sequence(0, 31), i -> cast((id * 7 + i * 13) % 103 as double) / 103.0 - 0.5) as w",
    "transform(sequence(0, 31), i -> (id * 31 + i * 17) % 101 - 50) as lv",
    "transform(sequence(0, 31), i -> (id * 7 + i * 13) % 103 - 50) as lw")

  private val rows = 100000L
  private val runs = 3

  /** Rows per second of each kernel: the median of `runs` timed passes
    * over `rows` rows, after one untimed pass that compiles it. Names the
    * registry has but `calls` lacks come back as `missing`, so a new
    * kernel is reported rather than silently skipped.
    */
  def measure(spark: SparkSession, cpus: Int): (Seq[(String, Double)], Seq[String]) = {
    val ks = spark.newSession()
    ks.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val before = ks.catalog.listFunctions().collect().map(_.name).toSet
    graft.etl.expressions.Registry.register(ks)
    val registered = ks.catalog.listFunctions().collect().map(_.name).toSet -- before
    val missing = (registered -- calls.map(_._1)).toSeq.sorted
    val in = ks.range(0L, rows, 1L, cpus).selectExpr(inputs: _*)
      .persist(StorageLevel.MEMORY_ONLY)
    in.count()
    val rates = calls.map { case (name, call) =>
      val run = () => {
        val t0 = System.nanoTime()
        in.selectExpr(s"$call as k").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run()
      val times = Seq.fill(runs)(run()).sorted
      name -> rows / times(times.size / 2)
    }
    in.unpersist(blocking = true)
    (rates, missing)
  }
}
