package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured-streaming surface (SURVEY.md §2.10).
  *
  * The reference's incrementality is cron re-run + append-only sink
  * (`daily.yml:4-6`, `storage/google_sheets.py:21`); its 90-day
  * lookback re-scan is a poor-man's watermark. Re-expressed natively:
  * daily tumbling-window aggregation with a real watermark. Sink modes
  * K1/K2 map to foreachBatch overwrite/append.
  */
object Streaming {

  /** Daily snapshot aggregation: tumbling 1-day windows on event time
    * with late-data tolerance — the streaming twin of q11_events_daily.
    */
  def dailyAggregation(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("day_window"), col("event_type"))
      // decimal inside, double at the surface — same discipline as the
      // batch twin q11: a raw double sum depends on accumulation order
      // across partitions/microbatches and diverges from the oracle
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("day_window.start").as("day_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Read the events table as a file stream (schema pinned; one file
    * per microbatch gives deterministic tests).
    */
  def eventsStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      // oldest-first is the default, but the ordered-ingest harness
      // (writeOrderedBatches -> q214/q225 order-dependent chains)
      // DEPENDS on it — pin it so a default change can't reorder
      .option("latestFirst", "false")
      .parquet(dir)

  /** Streaming exact dedup — the incremental twin of the batch
    * content-hash dedup (q21): drops rows whose md5(content) was seen
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * expires state with the watermark, so the dedup map is bounded by
    * the late-data window instead of growing with the corpus — the
    * property that keeps continuous 100 TB-scale ingestion feasible.
    */
  def dedupStream(df: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 day"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .withColumn("content_hash", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join — the streaming twin of the q20 batch
    * interval join (purchases within `tolMin` after a same-user signup).
    *
    * Both sides are watermarked: the time-bounded join condition plus
    * the watermarks lets the state store evict a buffered row once no
    * future match can exist for it (signups after `tolMin` + watermark,
    * purchases after the watermark alone) — the property that keeps an
    * unbounded stream-stream join's state finite at production scale.
    * Inner join, so no emit-on-timeout subtleties.
    */
  def intervalJoinStream(signups: DataFrame, purchases: DataFrame,
      tolMin: Int = 30, watermark: String = "1 hour"): DataFrame = {
    val a = signups
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = purchases
      .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b, col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $tolMin MINUTES"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
  }

  /** Runs `stream` to completion through `onBatch` (`foreachBatch` in
    * `mode`, checkpointed at `ck`), then stops the query, thrown or
    * not. An exception from `onBatch` reaches the caller in the cause
    * chain of a `StreamingQueryException`. Every streaming query in
    * the registry runs through here.
    *
    * Stateful-op parallelism is `spark.sql.shuffle.partitions`, read
    * when the query starts, so the run sets it to `partitions` and
    * restores the prior value when the run ends, thrown or not. The
    * bench's session default (one per core, 32 on the bench host)
    * costs far more than the data: q83's interval join at 32 keeps
    * 128 state-store instances whose per-batch checkpoint I/O took
    * 10.5 s vs ~3 s at 4 (sf0.1), and q78's aggregation state is 150
    * day-windows. The batch bodies' own joins and aggregations run
    * under the same value; q189, q190, q214 and q225 (2 or 3
    * micro-batches) pass 2, the rest 4.
    *
    * The override is on the caller's session on purpose. A stream
    * started on `spark.newSession()` or a cloned session reports no
    * progress events to a `StreamingQueryListener` on the caller's
    * `spark.streams` (a 3-batch spark-shell check on `local[2]`:
    * 0 of 3 events, vs 3 of 3 on the caller's session), and
    * `newSession()` also drops runtime SQL settings such as AQE.
    * Per-micro-batch progress is read from that listener, so the
    * drain stays where it can be seen; the override holds only while
    * the stream runs, synchronously, on the calling thread.
    */
  def drain(stream: DataFrame, ck: String, partitions: Int,
      mode: OutputMode = OutputMode.Append)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val conf = stream.sparkSession.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try {
      val q = stream.writeStream.outputMode(mode)
        .option("checkpointLocation", ck)
        .foreachBatch(onBatch)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** K1/K2 as a streaming sink body: per-microbatch overwrite
    * (snapshot, `append = false`) or append (historization), for
    * `drain(...)(writeBatch(_, _, path, append))`.
    *
    * foreachBatch is AT-LEAST-ONCE: a retried microbatch re-runs the
    * writer after a crash between the parquet commit and the
    * checkpoint commit. Append mode therefore writes each batch into
    * its own `batch_id=<id>` directory with overwrite — the replay
    * rewrites the same directory instead of duplicating rows, and
    * readers prune on the partition column like any historized table.
    */
  private[graft] def writeBatch(batch: DataFrame,
      id: Long, path: String, append: Boolean): Unit =
    if (append)
      batch.write.mode("overwrite").parquet(s"$path/batch_id=$id")
    else
      batch.write.mode("overwrite").parquet(path)
}
