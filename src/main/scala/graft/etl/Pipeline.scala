package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The E1 end-to-end pipeline (`cli.py:20-55`, SURVEY.md §3): sources →
  * normalize → consolidate → filter/sort → sinks, with the reference's
  * per-source failure isolation (`cli.py:22-35`: a failing source
  * degrades to an empty frame and the run continues).
  */
object Pipeline {

  /** NormalizedEvent-schema empty frame (failure-isolation fallback). */
  def emptyEvents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[NormalizedEvent].toDF()
  }

  /** Per-source failure isolation: evaluate a source thunk, degrade to
    * empty on error (`cli.py:22-35`).
    */
  def sourceOrEmpty(spark: SparkSession)(thunk: => DataFrame): DataFrame =
    try thunk catch { case _: Throwable => emptyEvents(spark) }

  /** Full run: consolidate both normalized sources, write the three
    * sinks (overwrite snapshot K1, historized append K2, JSON preview
    * K4). Returns the consolidated frame.
    *
    * `sg`/`dc` are BY-NAME so the per-source failure isolation is
    * real: building a source frame (e.g. `spark.read` over a missing
    * path, which fails eagerly at file listing) throws inside
    * [[sourceOrEmpty]]'s try and degrades to an empty frame instead of
    * aborting the run — with strict parameters the exception would
    * fire at the caller before this method was entered.
    *
    * One shuffle for the token join, one per window rank, one for the
    * final sort — the same stage shape at any scale; sinks reuse the
    * sorted result (cached to avoid recomputing the join per sink; the
    * caller owns the cached result's lifecycle — unpersist it, or
    * clearCache between runs in a long-lived session).
    */
  def run(spark: SparkSession, sg: => DataFrame, dc: => DataFrame, today: String,
      outDir: String, runId: String): DataFrame = {
    val sgSafe = withOrder(sourceOrEmpty(spark)(sg))
    val dcSafe = withOrder(sourceOrEmpty(spark)(dc))
    val consolidated = Consolidate
      .consolidate(sgSafe, dcSafe, today, col("__ord"), col("__ord"))
      .cache()
    Sinks.overwriteSnapshot(consolidated, s"$outDir/consolidated")
    Sinks.appendHistorized(
      sgSafe.drop("__ord").unionByName(dcSafe.drop("__ord"))
        .withColumn("ingestion_run_id", lit(runId)),
      s"$outDir/historized")
    Sinks.jsonPreview(consolidated, s"$outDir/preview",
      Seq("event_datetime_local", "event_name"))
    consolidated
  }

  /** Deterministic input-order column for the greedy join: prefer an
    * explicit monotonic id column when present; otherwise fall back on
    * the stable surrogate id (order-by-key, documented divergence from
    * arrival order).
    */
  private def withOrder(df: DataFrame): DataFrame =
    if (df.columns.contains("__ord")) df
    else if (df.columns.contains("event_id_provider"))
      df.withColumn("__ord", abs(xxhash64(col("event_id_provider"))))
    else df.withColumn("__ord", monotonically_increasing_id())
}
