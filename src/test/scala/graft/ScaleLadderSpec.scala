package graft

import org.apache.spark.sql.functions._

/** Always-on CI twin of the SCALE_LADDER.md evidence (VERDICT r8 #3):
  * the no-degenerate-bucket invariant every capped candidate generator
  * depends on, asserted at sf0.001 in every `sbt test` run instead of
  * living only in a manually-run dev main. The committed tri-scale
  * numbers stay in SCALE_LADDER.md (from `runMain graft.Dev scale-ladder`);
  * this spec regression-proofs the invariant they document.
  */
class ScaleLadderSpec extends SparkSpec {

  test("no capped key family has an over-cap bucket at sf0.001") {
    ScaleLadder.familySizes(spark, sf0001).foreach { case (family, sizes) =>
      val (keys, mx, _, over) = ScaleLadder.stats(sizes)
      assert(keys > 0, s"$family measured no keys — measurement broken")
      assert(over == 0, s"$family has $over over-cap buckets (max=$mx)")
    }
  }

  test("the skew rehearsal's cap ACTUALLY engages at sf0.001 (q175's family)") {
    // the organic fixtures never trip a cap (test above); the
    // boilerplate-stamped family must — otherwise the rehearsal row
    // and q175's over_cap column are vacuous
    val (keys, mx, _, over) =
      ScaleLadder.stats(ScaleLadder.skewedSizes(spark, sf0001),
        cap = ScaleLadder.rehearsalCap)
    assert(over > 0, s"rehearsal cap never engaged (keys=$keys max=$mx)")
    assert(mx > ScaleLadder.rehearsalCap,
      s"max bucket $mx not above the rehearsal cap")
    // and the embedding-family twin (q178): exactly one collapsed cell
    val (_, cm, _, co) =
      ScaleLadder.stats(ScaleLadder.skewedCellSizes(spark, sf0001),
        cap = ScaleLadder.rehearsalCap)
    assert(co == 1 && cm > ScaleLadder.rehearsalCap,
      s"cell rehearsal did not engage (over=$co max=$cm)")
  }

  test("the over-cap measurement fires on an injected hot bucket") {
    import spark.implicits._
    // 7 rows on one key, cap 5 => exactly one over-cap key
    val sizes = ((1 to 7).map(_ => "hot") ++ Seq("cold"))
      .toDF("k").groupBy(col("k")).agg(count(lit(1)).as("n"))
    val (keys, mx, _, over) = ScaleLadder.stats(sizes, cap = 5)
    assert(keys == 2 && mx == 7 && over == 1,
      s"expected (2,7,_,1), got ($keys,$mx,_,$over)")
  }
}
