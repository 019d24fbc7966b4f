package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-19 OPTIMIZATION pins: the fused argmax/argmin/LUT kernels
  * (BestCells, PqArgmin, PqMinErr, PqLut, IndexWeight) must be
  * BIT-identical to the round-18 composed expression forms they
  * replace — the two forms run side by side on real embeddings plus
  * adversarial rows (nulls, null elements, short vectors, ±0.0,
  * ±1e-9 rounding ties, NaN/Inf). Also pins the ADVICE-r18
  * null-element fix in the quantized index filter.
  */
class Wave31Spec extends SparkSpec {

  import graft.ext.Similarity
  private def br(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftBridge.column(e)
  private def ex(c: Column) =
    org.apache.spark.sql.GraftBridge.expression(c)

  /** Real sf0.001 embeddings + adversarial vectors. */
  private def fixture = {
    import spark.implicits._
    val emb = graft.util.Tables.embeddings(spark, sf0001)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val dim = emb.select(size(col("vec"))).first().getInt(0)
    val special: Seq[(Long, Seq[java.lang.Double])] = Seq(
      (900001L, Seq.fill(dim)(java.lang.Double.valueOf(0.0))),
      (900002L, Seq.fill(dim)(java.lang.Double.valueOf(1e-9))),
      (900003L, Seq.fill(dim)(java.lang.Double.valueOf(-1e-9))),
      (900004L, null),                                     // null vector
      (900005L, Seq.empty),                                // empty
      (900006L, Seq.fill(5)(java.lang.Double.valueOf(0.25))), // short
      (900007L, (0 until dim).map(i =>
        if (i == 7) null else java.lang.Double.valueOf(0.5))), // null elem
      (900008L, (0 until dim).map(i => java.lang.Double.valueOf(
        if (i == 0) Double.NaN else 0.125))),
      (900009L, (0 until dim).map(i => java.lang.Double.valueOf(
        if (i == 1) Double.PositiveInfinity else -0.125))))
    val sp = special.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    (emb.unionByName(sp), dim)
  }

  test("BestCells kernel ≡ composed slice(sort_array(struct-cands)) " +
      "form — bit-identical structs for keep 1/4/16, adversarial rows") {
    val (df, dim) = fixture
    val nCells = 16
    val coarse = (0 until nCells).map(cl =>
      (cl, (0 until dim).map(i => Similarity.centroidVal(cl, i))))
    // the round-18 composed form, verbatim
    def cands(vec: Column): Column = array(coarse.map { case (cl, vs) =>
      val cd = Similarity.dotFold(vec, lit(vs.toArray))
      struct(negate(round(cd, 6)).as("nd"), lit(cl.toLong).as("cell"),
        cd.as("cdot"))
    }: _*)
    for (keep <- Seq(1, 4, 16)) {
      val composed =
        if (keep == 1) array(array_min(cands(col("vec"))))
        else slice(sort_array(cands(col("vec"))), 1, keep)
      val fused = br(graft.etl.expressions.BestCells(ex(col("vec")),
        coarse.map(_._1.toLong), coarse.map(_._2), keep))
      val rows = df.select(col("id"), fused.as("f"), composed.as("s"))
        .collect()
      rows.foreach { r =>
        val f = r.getSeq[org.apache.spark.sql.Row](1)
        val s = r.getSeq[org.apache.spark.sql.Row](2)
        assert(f.length == s.length, s"id=${r.getLong(0)} keep=$keep len")
        f.zip(s).zipWithIndex.foreach { case ((a, b), j) =>
          def bits(row: org.apache.spark.sql.Row, i: Int): java.lang.Long =
            if (row.isNullAt(i)) null
            else java.lang.Long.valueOf(
              java.lang.Double.doubleToRawLongBits(row.getDouble(i)))
          assert(bits(a, 0) == bits(b, 0) && a.getLong(1) == b.getLong(1) &&
            bits(a, 2) == bits(b, 2),
            s"id=${r.getLong(0)} keep=$keep rank=$j: fused=$a composed=$b")
        }
      }
    }
  }

  test("PqArgmin / PqMinErr kernels ≡ composed argmin/err forms — " +
      "slice subvectors, every subspace, adversarial rows") {
    val (df, _) = fixture
    val subDim = 8; val nCents = 16
    for (sub <- Seq(0, 3, 7)) {
      val cents = (0 until nCents).map(c =>
        (0 until subDim).map(i => Similarity.pqVal(sub, c, i)): Seq[Double])
      val sv = slice(col("vec"), sub * subDim + 1, subDim)
      // composed argmin + err, verbatim round-18 shapes
      def keyFor(vals: Seq[Double]): Column = {
        val cent = lit(vals.toArray)
        Similarity.dotFold(cent, cent) -
          lit(2.0) * Similarity.dotFold(sv, cent)
      }
      val candsC = array(cents.zipWithIndex.map { case (vals, i) =>
        struct(round(keyFor(vals), 6).as("d"), lit(i).as("i"))
      }: _*)
      val composedCode = array_min(candsC).getField("i")
      val keys = array(cents.map(keyFor): _*)
      val composedErr = Similarity.dotFold(sv, sv) +
        element_at(keys, array_min(candsC).getField("i") + 1)
      val fusedCode = br(graft.etl.expressions.PqArgmin(ex(sv), cents))
      val fusedErr = br(graft.etl.expressions.PqMinErr(ex(sv), cents))
      df.select(col("id"), fusedCode.as("fc"), composedCode.as("sc"),
          fusedErr.as("fe"), composedErr.as("se"))
        .collect().foreach { r =>
          assert(!r.isNullAt(2) && r.getInt(1) == r.getInt(2),
            s"id=${r.getLong(0)} sub=$sub code: ${r.get(1)} vs ${r.get(2)}")
          val fe = if (r.isNullAt(3)) null
            else java.lang.Long.valueOf(
              java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
          val se = if (r.isNullAt(4)) null
            else java.lang.Long.valueOf(
              java.lang.Double.doubleToRawLongBits(r.getDouble(4)))
          assert(fe == se, s"id=${r.getLong(0)} sub=$sub err bits")
        }
    }
  }

  test("PqLut kernel ≡ composed dot-forest LUT — contiguous and perm " +
      "layouts, adversarial rows") {
    val (df, dim) = fixture
    val m = 8; val subDim = 8; val nCents = 16
    val codebook: Map[Int, Seq[Seq[Double]]] = (0 until m).map(sub =>
      sub -> (0 until nCents).map(c =>
        (0 until subDim).map(i => Similarity.pqVal(sub, c, i)): Seq[Double]))
      .toMap
    // a non-trivial perm: reverse the dimensions
    val perm = (0 until dim).reverse
    val layouts = Seq(
      ("contiguous",
        (0 until m).map(sub => (sub * subDim) until ((sub + 1) * subDim)
          : Seq[Int]),
        (sub: Int) => slice(col("vec"), sub * subDim + 1, subDim)),
      ("perm",
        (0 until m).map(sub => perm.slice(sub * subDim, (sub + 1) * subDim)),
        (sub: Int) => array(perm.slice(sub * subDim, (sub + 1) * subDim)
          .map(d => element_at(col("vec"), d + 1)): _*)))
    for ((label, dims, svOf) <- layouts) {
      val composed = array((0 until m).map { sub =>
        array(codebook(sub).map(vals =>
          Similarity.dotFold(svOf(sub), lit(vals.toArray))): _*)
      }: _*)
      val fused = br(graft.etl.expressions.PqLut(ex(col("vec")),
        (0 until m).map(codebook), dims, ansiGather = label == "perm"))
      // perm gather throws on SHORT (incl. empty) vectors under ANSI
      // element_at — both forms, checked separately below; restrict
      // the row-comparison to the full-length + null rows
      val base = if (label == "perm")
        df.filter(col("vec").isNull || size(col("vec")) === dim) else df
      base.select(col("id"), fused.as("f"), composed.as("s"))
        .collect().foreach { r =>
          val f = r.getSeq[scala.collection.Seq[java.lang.Double]](1)
          val s = r.getSeq[scala.collection.Seq[java.lang.Double]](2)
          assert(f.length == s.length, s"id=${r.getLong(0)} $label subs")
          f.zip(s).zipWithIndex.foreach { case ((fa, sa), sub) =>
            assert(fa.length == sa.length)
            fa.zip(sa).zipWithIndex.foreach { case ((a, b), c) =>
              val ab = if (a == null) null else java.lang.Long.valueOf(
                java.lang.Double.doubleToRawLongBits(a))
              val bb = if (b == null) null else java.lang.Long.valueOf(
                java.lang.Double.doubleToRawLongBits(b))
              assert(ab == bb,
                s"id=${r.getLong(0)} $label sub=$sub cent=$c: $a vs $b")
            }
          }
        }
    }
    // on a SHORT vector the perm kernel must replicate element_at's
    // ANSI INVALID_ARRAY_INDEX throw — throw-class parity
    import spark.implicits._
    val shortDf = Seq((1L, Seq.fill(5)(0.25))).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    val permLut = br(graft.etl.expressions.PqLut(ex(col("vec")),
      (0 until m).map(codebook),
      (0 until m).map(sub => perm.slice(sub * subDim, (sub + 1) * subDim)),
      ansiGather = true))
    val composedPerm = array((0 until m).map { sub =>
      array(codebook(sub).map(vals => Similarity.dotFold(
        array(perm.slice(sub * subDim, (sub + 1) * subDim)
          .map(d => element_at(col("vec"), d + 1)): _*),
        lit(vals.toArray))): _*)
    }: _*)
    def throwClass(f: => Unit): String =
      try { f; "NO-THROW" } catch { case e: Throwable =>
        var c: Throwable = e
        while (c.getCause != null && c.getCause != c) c = c.getCause
        c.getClass.getName }
    val fk = throwClass(shortDf.select(permLut).collect())
    val sk = throwClass(shortDf.select(composedPerm).collect())
    assert(fk == sk && fk != "NO-THROW",
      s"short-vector perm gather: fused=$fk composed=$sk")
  }

  test("IndexWeight kernel ≡ transform((x,i) => x*when(i<n,f,1)) — " +
      "nulls, null elements, specials") {
    val (df, _) = fixture
    val composed = transform(col("vec"),
      (x, i) => x * when(i < lit(8), lit(4.0)).otherwise(lit(1.0)))
    val fused = Similarity.indexWeight(col("vec"), 8, 4.0)
    df.select(col("id"), fused.as("f"), composed.as("s"))
      .collect().foreach { r =>
        val f = if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1)
        val s = if (r.isNullAt(2)) null else r.getSeq[java.lang.Double](2)
        if (f == null || s == null)
          assert(f == null && s == null, s"id=${r.getLong(0)}")
        else {
          assert(f.length == s.length)
          f.zip(s).zipWithIndex.foreach { case ((a, b), j) =>
            assert((a == null && b == null) ||
              (a != null && b != null &&
                java.lang.Double.doubleToRawLongBits(a) ==
                  java.lang.Double.doubleToRawLongBits(b)),
              s"id=${r.getLong(0)} elem $j: $a vs $b")
          }
        }
      }
  }

  test("quantizedIndex drops null-element vectors exactly like the " +
      "r17 filter(cnorm > 0) form (ADVICE r18)") {
    import spark.implicits._
    val rows: Seq[(Long, Seq[java.lang.Double])] = Seq(
      (1L, Seq.fill(8)(java.lang.Double.valueOf(0.5))),
      (2L, (0 until 8).map(i =>
        if (i == 3) null else java.lang.Double.valueOf(0.5))), // null elem
      (3L, Seq.fill(8)(java.lang.Double.valueOf(0.0))),        // zero vec
      (4L, null),                                              // null vec
      (5L, Seq.fill(8)(java.lang.Double.valueOf(-1.25))))
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val got = Similarity.quantizedIndex(df, "vec_id", "embedding")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // the r17 form, verbatim: encode everything, then filter(cnorm > 0)
    val hofScale = aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x)))
    val want = df
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("scale0", hofScale)
      .select(col("id"), transform(col("v"), x =>
          when(col("scale0") > 0, round(x * lit(127.0) / col("scale0"))
            .cast("int")).otherwise(lit(0))).as("code"))
      .withColumn("cnorm", sqrt(aggregate(
        zip_with(col("code").cast("array<long>"), col("code").cast("array<long>"),
          (p, q) => p * q), lit(0L), (a, x) => a + x).cast("double")))
      .filter(col("cnorm") > 0)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == want, s"got=$got want=$want")
    assert(got == Set(1L, 5L))
  }
}
