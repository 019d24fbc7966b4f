package graft

import org.apache.spark.sql.functions._

import graft.util.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join is row-equivalent to the plain join under skew") {
    // 90% of left rows share one hot key
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val right = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty")).toDF("k", "name")
    val plain = left.join(right, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(left, right, Seq("k"), salts = 8,
      hotThreshold = 100L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.count(_._1 == 7L) == 1800)
  }

  test("only hot keys replicate / scatter; cold keys join plain") {
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val right = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty")).toDF("k", "name")
    val hot = Skew.hotKeySet(left, Seq("k"), hotThreshold = 100L)
    // only key 7 crosses the threshold
    assert(hot.select("k").collect().map(_.getLong(0)).toSet == Set(7L))

    // right side: the hot key replicates salts x, cold keys stay single
    val perKey = Skew.saltRight(right, hot, Seq("k"), salts = 8)
      .groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perKey(7L) == 8L)
    assert(perKey(10L) == 1L && perKey(20L) == 1L)

    // left side: cold rows keep salt 0; hot rows use more than one salt
    val salts = Skew.saltLeft(left, hot, Seq("k"), salts = 8)
      .groupBy("k").agg(collect_set(col("__salt")).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSet)).toMap
    assert(salts.filterKeys(_ != 7L).values.forall(_ == Set(0)))
    assert(salts(7L).size > 1)
  }
}
