package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY.md §4: "salting for skew").
  *
  * First line of defense is AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default in the bench
  * session). Salting is the explicit fallback for keys so hot that even
  * split shuffle blocks overwhelm a task — e.g. a single ultra-frequent
  * artist token in the consolidation join at 100 TB.
  */
object Skew {

  /** Frequency-bounded salted inner equi-join.
    *
    * A pre-pass counts left-side key frequencies (map-side combinable, so
    * each partition emits at most one partial row per distinct key — cheap
    * even at 100 TB) and keeps keys with >= `hotThreshold` rows. That hot
    * set is bounded above by |left| / hotThreshold rows, so it broadcasts
    * safely. Only rows carrying a hot key are salted: hot left rows
    * scatter across `salts` sub-keys, hot right rows replicate `salts`
    * times; COLD rows join exactly as in the plain join (salt 0, no
    * replication). Row-level results are identical to the plain inner
    * join — only the shuffle distribution of the hot keys changes.
    *
    * This replaces an earlier whole-side replication scheme: replicating
    * the full right side `salts`x multiplies the entire shuffle to fix
    * skew on a few keys, which does not survive a 100x scale-up.
    *
    * Reserves the working column names `__salt`/`__hot`/`__cnt`; input
    * frames must not carry them.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, hotThreshold: Long = 1000000L): DataFrame = {
    require(salts > 1, s"salts must be > 1, got $salts")
    // the broadcast-safety argument is |left| / hotThreshold rows: a
    // tiny threshold makes the "bounded" hot set approach all distinct
    // left keys, turning the safety broadcast into a corpus-sized one.
    // 1 is permitted (useful in tests) but production callers should
    // size it so |left| / hotThreshold stays a safe broadcast.
    require(hotThreshold >= 1, s"hotThreshold must be >= 1, got $hotThreshold")
    val hot = hotKeySet(left, keys, hotThreshold)
    saltLeft(left, hot, keys, salts)
      .join(saltRight(right, hot, keys, salts), keys :+ "__salt")
      .drop("__salt")
  }

  /** Left-side keys appearing >= `hotThreshold` times, as a one-flag
    * frame suitable for broadcasting (at most |df| / hotThreshold rows).
    */
  private[graft] def hotKeySet(df: DataFrame, keys: Seq[String],
      hotThreshold: Long): DataFrame =
    broadcast(
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") >= hotThreshold)
        .drop("__cnt")
        .withColumn("__hot", lit(true)))

  /** Hot rows scatter over [0, salts); cold rows keep salt 0 (their
    * shuffle distribution is the plain join's).
    */
  private[graft] def saltLeft(left: DataFrame, hotSet: DataFrame,
      keys: Seq[String], salts: Int): DataFrame =
    left.join(hotSet, keys, "left")
      .withColumn("__salt",
        when(col("__hot"),
          pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
          .otherwise(lit(0)))
      .drop("__hot")

  /** Hot rows replicate `salts`x to meet every left sub-key; cold rows
    * stay single (salt 0).
    */
  private[graft] def saltRight(right: DataFrame, hotSet: DataFrame,
      keys: Seq[String], salts: Int): DataFrame =
    right.join(hotSet, keys, "left")
      .withColumn("__salt",
        explode(when(col("__hot"), sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot")
}
