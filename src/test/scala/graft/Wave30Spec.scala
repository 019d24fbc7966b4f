package graft

import org.apache.spark.sql.functions._

/** Round-18 OPTIMIZATION pins: every rewrite in this round must be
  * value-identical to the form it replaced — these tests hold the two
  * forms side by side on adversarial inputs so the equivalence is
  * checked by CI, not by the one-off oracle run that motivated it.
  */
class Wave30Spec extends SparkSpec {

  private def hofDot(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  test("DotFold ≡ aggregate(zip_with(·,·,*),0D,+) — values, nulls, " +
      "length mismatch, empties, specials (±0.0, ±Inf, NaN)") {
    import spark.implicits._
    val rnd = new scala.util.Random(18)
    def vec(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf(rnd.nextGaussian()))
    val rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (vec(64), vec(64)),
      (vec(8), vec(8)),
      (Seq.empty, Seq.empty),                       // both empty -> 0.0
      (vec(5), vec(7)),                             // mismatch -> null
      (vec(3) :+ (null: java.lang.Double), vec(4)), // null elem -> null
      (Seq[java.lang.Double](0.0, -0.0, 1.0), Seq[java.lang.Double](-0.0, 0.0, 2.0)),
      (Seq[java.lang.Double](Double.PositiveInfinity, 1.0),
        Seq[java.lang.Double](2.0, 3.0)),
      (Seq[java.lang.Double](Double.NaN, 1.0), Seq[java.lang.Double](2.0, 3.0)),
      (null, vec(4)),                               // null array -> null
      (vec(4), null)) ++ (1 to 50).map(i => (vec(i % 17 + 1), vec(i % 17 + 1)))
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val got = df.select(
        graft.ext.Similarity.dotFold(col("a"), col("b")).as("fast"),
        hofDot(col("a"), col("b")).as("slow"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val f = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val s = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      // bit-identical, not approximately equal: same fold order is the claim
      assert((f == null && s == null) ||
        (f != null && s != null &&
          java.lang.Double.doubleToRawLongBits(f) ==
            java.lang.Double.doubleToRawLongBits(s)),
        s"row $i: DotFold=$f HOF=$s")
    }
  }

  test("DotFoldLong ≡ aggregate(zip_with(·,·,*),0L,+) over int8-code arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(30)
    def code(n: Int): Seq[java.lang.Long] =
      Seq.fill(n)(java.lang.Long.valueOf((rnd.nextInt(255) - 127).toLong))
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (code(64), code(64)),
      (Seq.empty, Seq.empty),
      (code(5), code(6)),
      (code(3) :+ (null: java.lang.Long), code(4)),
      (null, code(4))) ++ (1 to 30).map(i => (code(i % 9 + 1), code(i % 9 + 1)))
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<long>").as("a"),
        col("b").cast("array<long>").as("b"))
    val got = df.select(
        org.apache.spark.sql.GraftBridge.column(graft.etl.expressions.DotFoldLong(
          org.apache.spark.sql.GraftBridge.expression(col("a")),
          org.apache.spark.sql.GraftBridge.expression(col("b")))).as("fast"),
        aggregate(zip_with(col("a"), col("b"), (p, q) => p * q),
          lit(0L), (acc, v) => acc + v).as("slow"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val f = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val s = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      assert(f == s, s"row $i: DotFoldLong=$f HOF=$s")
    }
  }

  test("scan-stage cell assignment ≡ crossJoin+window argmax " +
      "(rounded-dot desc, cell-asc ties, keep multiplicity) on real " +
      "embeddings and a tie fixture") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.ext.Similarity
    val nCells = 16
    // real vectors (sf0.001 embeddings) + adversarial rows: a zero
    // vector (every rounded dot ties at ±0.0 -> pure cell-asc order)
    // and a tiny-negative-direction vector (rounds to -0.0 vs 0.0)
    val emb = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val dim = emb.select(size(col("vec"))).first().getInt(0)
    val special = Seq(
      (900001L, Seq.fill(dim)(0.0)),
      (900002L, Seq.fill(dim)(1e-9)),
      (900003L, Seq.fill(dim)(-1e-9))).toDF("id", "vec")
    val df = emb.unionByName(special)
    val coarse = (0 until nCells).map(cl =>
      (cl, (0 until dim).map(i => Similarity.centroidVal(cl, i))))
    val cents = broadcast(coarse.map { case (cl, vs) => (cl.toLong, vs) }
      .toDF("cell", "cvec"))
    def hofDot(x: org.apache.spark.sql.Column,
        y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    for (keep <- Seq(1, 4, 16)) {
      // the r17 window form, verbatim (incl. the HOF dot), as truth
      val w = Window.partitionBy(col("id"))
        .orderBy(round(col("cdot"), 6).desc, col("cell").asc)
      val want = df.filter(col("vec").isNotNull && size(col("vec")) > 0)
        .crossJoin(cents)
        .withColumn("cdot", hofDot(col("vec"), col("cvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= keep)
        .select(col("id"), col("rn").cast("long").as("rn"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = df.filter(col("vec").isNotNull && size(col("vec")) > 0)
        .select(col("id"), posexplode(
          org.apache.spark.sql.GraftBridge.column(
            org.apache.spark.sql.GraftBridge.expression(
              sort_array(array(coarse.map { case (cl, vs) =>
                val cd = Similarity.dotFold(col("vec"), array(vs.map(lit): _*))
                struct(negate(round(cd, 6)).as("nd"),
                  lit(cl.toLong).as("cell"), cd.as("cdot"))
              }: _*))))).as(Seq("bp", "bc")))
        .filter(col("bp") < keep)
        .select(col("id"), (col("bp") + 1).cast("long").as("rn"),
          col("bc").getField("cell").as("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"keep=$keep: scan-stage assignment diverged " +
        s"(only-got=${(got -- want).take(5)}, only-want=${(want -- got).take(5)})")
    }
    // and the public single-best helpers agree with the window winner
    val w1 = Window.partitionBy(col("id"))
      .orderBy(round(col("cdot"), 6).desc, col("cell").asc)
    val wantBest = df.crossJoin(cents)
      .withColumn("cdot", hofDot(col("vec"), col("cvec")))
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gotBest = df.select(col("id"),
        Similarity.bestCellOf(col("vec"), coarse).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotBest == wantBest)
    // centroidOf gathers exactly the winning centroid's literals
    val gotCv = df.limit(5).select(col("id"),
        Similarity.centroidOf(Similarity.bestCellOf(col("vec"), coarse),
          coarse).as("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    gotCv.foreach { case (id, cv) =>
      assert(cv == coarse(wantBest(id).toInt)._2, s"id=$id centroid gather")
    }
  }

  test("VecSub ≡ zip_with(·,·,−) — values, nulls, padding on length " +
      "mismatch, empties, specials (±0.0, ±Inf, NaN)") {
    import spark.implicits._
    val rnd = new scala.util.Random(181)
    def vec(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf(rnd.nextGaussian()))
    val rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (vec(64), vec(64)),
      (Seq.empty, Seq.empty),                       // both empty -> []
      (vec(5), vec(7)),                             // pad -> trailing nulls
      (vec(7), vec(5)),
      (vec(3) :+ (null: java.lang.Double), vec(4)), // null elem -> null elem
      (Seq[java.lang.Double](0.0, -0.0, 1.0), Seq[java.lang.Double](-0.0, 0.0, 2.0)),
      (Seq[java.lang.Double](Double.PositiveInfinity, 1.0),
        Seq[java.lang.Double](Double.PositiveInfinity, 3.0)), // Inf-Inf = NaN
      (Seq[java.lang.Double](Double.NaN, 1.0), Seq[java.lang.Double](2.0, 3.0)),
      (null, vec(4)),                               // null array -> null
      (vec(4), null)) ++ (1 to 40).map(i => (vec(i % 17 + 1), vec(i % 17 + 1)))
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val got = df.select(
        graft.ext.Similarity.vecSub(col("a"), col("b")).as("fast"),
        zip_with(col("a"), col("b"), (x, y) => x - y).as("slow"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val f = if (r.isNullAt(0)) null else r.getSeq[java.lang.Double](0)
      val s = if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1)
      if (f == null || s == null) assert(f == null && s == null, s"row $i")
      else {
        assert(f.length == s.length, s"row $i: length ${f.length} vs ${s.length}")
        f.zip(s).zipWithIndex.foreach { case ((fe, se), j) =>
          // bit-identical per element (same IEEE subtraction); NaN ==
          // NaN under raw-bits compare, unlike ==
          assert((fe == null && se == null) ||
            (fe != null && se != null &&
              java.lang.Double.doubleToRawLongBits(fe) ==
                java.lang.Double.doubleToRawLongBits(se)),
            s"row $i elem $j: VecSub=$fe HOF=$se")
        }
      }
    }
  }

  test("int8Scale / quantizeInt8 kernels ≡ the HOF aggregate/transform " +
      "forms — nulls, null scale, zero/NaN/Inf scale, specials") {
    import spark.implicits._
    val rnd = new scala.util.Random(301)
    def vec(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf(rnd.nextGaussian() * 3))
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      vec(64),
      Seq.empty,                                    // empty -> scale 0.0
      vec(3) :+ (null: java.lang.Double),           // null elem skipped
      Seq[java.lang.Double](0.0, -0.0),             // scale 0 -> codes 0
      Seq[java.lang.Double](2.5, -2.5, 0.5, -0.5, 1.5), // HALF_UP ties
      null) ++ (1 to 30).map(i => vec(i % 17 + 1))
    val df = rows.map(Tuple1(_)).toDF("v")
      .select(col("v").cast("array<double>").as("v"))
    // the r17 HOF forms, verbatim
    val hofScale = aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x)))
    def hofQuant(scale: org.apache.spark.sql.Column) =
      transform(col("v"), x =>
        when(scale > 0, round(x * lit(127.0) / scale).cast("int"))
          .otherwise(lit(0)))
    val got = df
      .withColumn("s_fast", graft.ext.Similarity.int8Scale(col("v")))
      .withColumn("s_slow", hofScale)
      .withColumn("c_fast",
        graft.ext.Similarity.quantizeInt8(col("v"), col("s_fast")))
      .withColumn("c_slow", hofQuant(col("s_slow")))
      // null scale must hit the otherwise(0) branch in both forms
      .withColumn("c_fast_nullsc", graft.ext.Similarity.quantizeInt8(col("v"),
        lit(null).cast("double")))
      .withColumn("c_slow_nullsc", hofQuant(lit(null).cast("double")))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val sf = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      val ss = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
      assert((sf == null && ss == null) ||
        (sf != null && ss != null &&
          java.lang.Double.doubleToRawLongBits(sf) ==
            java.lang.Double.doubleToRawLongBits(ss)),
        s"row $i scale: fast=$sf slow=$ss")
      Seq((3, 4), (5, 6)).foreach { case (a, b) =>
        val cf = if (r.isNullAt(a)) null else r.getSeq[java.lang.Integer](a)
        val cs = if (r.isNullAt(b)) null else r.getSeq[java.lang.Integer](b)
        assert(cf == cs, s"row $i codes(col $a/$b): fast=$cf slow=$cs")
      }
    }
    // ±Inf elements (scale = +Inf > 0, element Inf·127/Inf = NaN) and
    // NaN elements (scale = NaN, which Spark's comparison treats as
    // > 0 — NaN is the greatest double): the ANSI double→int cast
    // THROWS (Spark 4 default) — both forms must throw the same
    // exception class
    Seq(Seq[java.lang.Double](Double.PositiveInfinity, 1.0),
        Seq[java.lang.Double](Double.NegativeInfinity, 2.0),
        Seq[java.lang.Double](Double.NaN, 1.0)).foreach { bad =>
      val bdf = Seq(Tuple1(bad)).toDF("v")
        .select(col("v").cast("array<double>").as("v"))
      def cls(f: => Unit): String =
        try { f; "NO-THROW" } catch { case e: Throwable =>
          // unwrap the Spark job wrapper to the root cause
          var c: Throwable = e
          while (c.getCause != null && c.getCause != c) c = c.getCause
          c.getClass.getName }
      val fastCls = cls(bdf.select(graft.ext.Similarity.quantizeInt8(col("v"),
        graft.ext.Similarity.int8Scale(col("v")))).collect())
      val slowCls = cls(bdf.select(hofQuant(hofScale)).collect())
      assert(fastCls == slowCls && fastCls != "NO-THROW",
        s"Inf row: fast=$fastCls slow=$slowCls")
    }
  }

  test("lshSignature / signProjectMicro on the DotFold kernel ≡ the " +
      "HOF aggregate(zip_with) forms, on real embeddings + null/empty rows") {
    import spark.implicits._
    import graft.ext.Similarity
    val emb = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val dim = emb.select(size(col("vec"))).first().getInt(0)
    val special = Seq(
      (910001L, null.asInstanceOf[Seq[Double]]),
      (910002L, Seq.empty[Double]),
      (910003L, Seq.fill(dim)(0.0))).toDF("id", "vec")
    val df = emb.unionByName(special)
    // the r17 HOF forms, verbatim
    def hofLsh(vec: org.apache.spark.sql.Column, nPlanes: Int): org.apache.spark.sql.Column = {
      val v = vec.cast("array<double>")
      (0 until nPlanes).map { p =>
        val plane = array((0 until dim).map(i => lit(Similarity.planeVal(p, i))): _*)
        val proj = aggregate(zip_with(v, plane, (x, w) => x * w),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    def hofProj(vec: org.apache.spark.sql.Column, outDim: Int): org.apache.spark.sql.Column = {
      val v = vec.cast("array<double>")
      val scale = math.sqrt(dim.toDouble)
      array((0 until outDim).map { p =>
        val row = array((0 until dim).map(i => lit(Similarity.signVal(p, i))): _*)
        round(aggregate(zip_with(v, row, (x, w) => x * w),
          lit(0.0), (acc, x) => acc + x) / scale * 1e6).cast("long")
      }: _*)
    }
    val got = df.select(col("id"),
        Similarity.lshSignature(col("vec"), 8, dim).as("sig"),
        hofLsh(col("vec"), 8).as("sig0"),
        Similarity.signProjectMicro(col("vec"), 4, dim).as("pj"),
        hofProj(col("vec"), 4).as("pj0"))
      .collect()
    got.foreach { r =>
      val sig = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      val sig0 = if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))
      assert(sig == sig0, s"id=${r.getLong(0)} lshSignature $sig vs $sig0")
      val pj = if (r.isNullAt(3)) null else r.getSeq[java.lang.Long](3)
      val pj0 = if (r.isNullAt(4)) null else r.getSeq[java.lang.Long](4)
      assert(pj == pj0, s"id=${r.getLong(0)} signProjectMicro $pj vs $pj0")
    }
  }

  test("BPE segment count: length arithmetic ≡ split+filter over the " +
      "real merge chain (q126/q122/q125 kernel)") {
    val S = "\u0001"; val SS = S + S
    // the exact rep-string construction + a real-ish merge chain
    val words = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(graft.ext.TextAnalysis.wsTokens(lower(col("text"))))
        .as("w"))
    val merges = Seq(("e", "s"), ("t", "h"), ("th", "e"), ("a", "n"), ("o", "n"))
    val rep0 = concat(lit(SS), regexp_replace(col("w"), "(.)", "$1" + SS))
    val reps = merges.scanLeft(rep0) { case (r, (a, b)) =>
      replace(r, lit(S + a + SS + b + S), lit(S + a + b + S)) }
    val cols = reps.zipWithIndex.flatMap { case (r, k) =>
      Seq(size(filter(split(r, SS), x => x =!= lit(""))).cast("long")
          .as(s"old$k"),
        ((length(r) - length(replace(r, lit(S), lit("")))) / 2 - 1)
          .cast("long").as(s"new$k"))
    }
    val bad = words.select(cols: _*)
      .filter((0 to merges.length).map(k =>
        col(s"old$k") =!= col(s"new$k")).reduce(_ || _))
      .count()
    assert(bad == 0, s"$bad words disagree between the two segment counts")
  }
}
