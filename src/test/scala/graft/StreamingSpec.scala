package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("daily windowed aggregation over events stream matches batch") {
    val schema = graft.util.Tables.events(spark, sf0001).schema
    // stream the (nanos-normalized) events through a temp parquet copy
    val tmp = tempDir("graft-stream").toString
    graft.util.Tables.events(spark, sf0001).write.mode("overwrite").parquet(tmp)

    val stream = Streaming.eventsStream(spark, tmp,
      spark.read.parquet(tmp).schema)
    val agg = Streaming.dailyAggregation(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("daily_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql(
      "SELECT CAST(day_start AS DATE) AS day, event_type, n FROM daily_out")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = graft.util.Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("text-analysis operators run unchanged on a document stream") {
    // quality scoring / token counting / gram hashing are stateless
    // projections, so the SAME Column expressions drive readStream —
    // the streaming story for the training-data operators is free.
    val docsDir = tempDir("graft-docstream").toString
    val docs = graft.util.Tables.documents(spark, sf0001).limit(50)
    docs.write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(docsDir).schema)
      .parquet(docsDir)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.ext.Dedup.simhash16(col("text")).as("simhash"),
        size(graft.ext.TextAnalysis.wordGramHashes(col("text"), 8)).as("n_grams"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ta_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM ta_stream_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val batch = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")),
        graft.ext.Dedup.simhash16(col("text")),
        size(graft.ext.TextAnalysis.wordGramHashes(col("text"), 8)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(streamed == batch && streamed.size == 50)
  }

  test("file-sink stream restarts from checkpoint without reprocessing") {
    // exactly-once across restarts is the property the daily-cron
    // reference gets by rewriting the whole sheet; the engine gets it
    // from the checkpoint + file-sink commit log.
    val base = tempDir("graft-chk")
    val (src, out, chk) = (s"$base/src", s"$base/out", s"$base/chk")
    val docs = graft.util.Tables.documents(spark, sf0001).limit(50)
    docs.filter(col("doc_id") < 25).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 25)
    docs.filter(col("doc_id") >= 25).write.mode("append").parquet(src)
    runOnce() // second incarnation resumes from the checkpoint
    val got = spark.read.parquet(out)
    assert(got.count() == 50)
    assert(got.select(col("doc_id")).distinct().count() == 50) // no reprocessing
  }

  test("stateful streaming sessionization groups within-gap events") {
    import Streaming.{SessionInput, SessionOut, SessionState}
    implicit val encOut = org.apache.spark.sql.Encoders.product[SessionOut]
    implicit val encSt = org.apache.spark.sql.Encoders.product[SessionState]
    val micros = (s: String) =>
      java.sql.Timestamp.valueOf(s).getTime * 1000L
    val input = Seq(
      SessionInput(1L, 1L, micros("2024-01-01 10:00:00")),
      SessionInput(1L, 2L, micros("2024-01-01 10:10:00")),
      SessionInput(1L, 3L, micros("2024-01-01 12:00:00")), // gap → closes first
      SessionInput(2L, 4L, micros("2024-01-01 09:00:00")))

    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessionInput](
      spark)(org.apache.spark.sql.Encoders.product[SessionInput])
    ms.addData(input: _*)
    val out = Streaming.sessionizeStream(ms.toDS(), gapSec = 1800L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // NOTE: processAllAvailable() never returns under ProcessingTimeTimeout
    // (shouldRunAnotherBatch is always true while timeouts are armed) —
    // poll the sink with a deadline instead.
    awaitRows("sess_out", 1, 60000L)
    q.stop()
    // only user 1's first session is CLOSED (a later event arrived);
    // trailing sessions flush via processing-time timeout, which has
    // not elapsed here (gap = 1800 s wall-clock)
    val rows = spark.sql("SELECT user_id, n_events FROM sess_out")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows == Set((1L, 2)))
  }

  test("streaming dedup drops within-watermark duplicate content") {
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)](
      spark)(org.apache.spark.sql.Encoders.product[(Long, String, java.sql.Timestamp)])
    val ts = java.sql.Timestamp.valueOf(_: String)
    ms.addData(
      (1L, "same content", ts("2024-01-01 10:00:00")),
      (2L, "same content", ts("2024-01-01 10:05:00")), // dup → dropped
      (3L, "other content", ts("2024-01-01 10:06:00")))
    val out = graft.streaming.Streaming.dedupStream(
      ms.toDF.toDF("id", "text", "ts"), "text", "ts")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    // a later duplicate in a second microbatch is also dropped (state
    // persists across batches within the watermark)
    ms.addData((4L, "same content", ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT id FROM dedup_out")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
  }

  private def awaitRows(table: String, n: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (spark.table(table).count() < n && System.currentTimeMillis < deadline)
      Thread.sleep(200L)
  }

  test("sessionization flushes trailing sessions on processing-time timeout") {
    import Streaming.{SessionInput, SessionOut, SessionState}
    implicit val encOut = org.apache.spark.sql.Encoders.product[SessionOut]
    implicit val encSt = org.apache.spark.sql.Encoders.product[SessionState]
    val micros = (s: String) =>
      java.sql.Timestamp.valueOf(s).getTime * 1000L

    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessionInput](
      spark)(org.apache.spark.sql.Encoders.product[SessionInput])
    // 0.5 s apart in EVENT time (within the 1 s session gap → one open
    // session of 2 events); the flush below is about PROCESSING time
    ms.addData(
      SessionInput(1L, 1L, micros("2024-01-01 10:00:00")),
      SessionInput(1L, 2L, micros("2024-01-01 10:00:00") + 500000L))
    val out = Streaming.sessionizeStream(ms.toDS(), gapSec = 1L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout_out").start()
    // the 1 s processing-time gap elapses with no further user-1 events;
    // the engine keeps running microbatches (timeouts armed) and fires
    // the timed-out key — just wait for the flushed row
    ms.addData(SessionInput(2L, 3L, micros("2024-01-01 09:00:00")))
    awaitRows("sess_timeout_out", 1, 60000L)
    q.stop()
    // user 1's idle session was flushed by the timeout (no later event
    // for user 1 ever arrived); user 2's may or may not have timed out
    // yet by the time we stop — only assert the flush we waited for
    val rows = spark.sql("SELECT user_id, n_events FROM sess_timeout_out")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows.contains((1L, 2)))
  }

  test("stream-stream interval join matches the batch interval join") {
    val enc = org.apache.spark.sql.Encoders.product[(Long, Long, java.sql.Timestamp)]
    val ts = java.sql.Timestamp.valueOf(_: String)
    val signups = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 20L, ts("2024-01-01 11:00:00")))
    val purchases = Seq(
      (1L, 11L, ts("2024-01-01 10:20:00")),  // within 30 min → match
      (1L, 12L, ts("2024-01-01 10:45:00")),  // past tolerance → no match
      (2L, 21L, ts("2024-01-01 11:05:00")),  // match
      (3L, 31L, ts("2024-01-01 11:00:00"))) // no signup → no match
    val msA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)](spark)(enc)
    val msB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)](spark)(enc)
    msA.addData(signups: _*)
    msB.addData(purchases: _*)
    val out = Streaming.intervalJoinStream(
      msA.toDF.toDF("user_id", "event_id", "ts"),
      msB.toDF.toDF("user_id", "event_id", "ts"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT user_id, signup_id, purchase_id FROM ssjoin_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((1L, 10L, 11L), (2L, 20L, 21L)))
  }

  test("append sink replay of the same batch id is idempotent") {
    // foreachBatch is at-least-once: a crash between the parquet commit
    // and the checkpoint commit replays the batch. The per-batch
    // overwrite directory must absorb the replay without duplicates.
    val dir = tempDir("graft_replay_").toFile
    val path = dir.getAbsolutePath
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Streaming.writeBatch(batch, 7L, path, append = true)
    Streaming.writeBatch(batch, 7L, path, append = true) // replay
    Streaming.writeBatch(Seq((3L, "c")).toDF("id", "v"), 8L, path, append = true)
    val back = spark.read.parquet(path)
    // layout note for readers: append historization adds a batch_id
    // partition column to the read schema (vs the former flat layout)
    assert(back.columns.toSet == Set("id", "v", "batch_id"))
    val rows = back.select("id", "v", "batch_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Any](2).toString)).toSet
    assert(rows == Set((1L, "a", "7"), (2L, "b", "7"), (3L, "c", "8")))
  }

  test("q115 stream near-dup batch body absorbs an at-least-once replay") {
    // the streaming ingest loop's per-batch candidates (batch
    // signatures x persisted base signature table) written through the
    // idempotent per-batch-id sink: replaying the same micro-batch
    // must leave the read-back history unchanged
    val dir = tempDir("graft_q115_replay_").toFile
    val path = dir.getAbsolutePath
    val base = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "completely unrelated text about spark physical planning"))
      .toDF("doc_id", "text")
    val baseSig = graft.ext.Dedup.bandedSignatures(base, "text", "doc_id", k = 8)
    // batch doc 20 duplicates base doc 10's text => must pair with it
    val batch = Seq((20L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val cand = graft.queries.Fragments.streamBatchCandidates(batch, baseSig)
    Streaming.writeBatch(cand, 0L, path, append = true)
    Streaming.writeBatch(cand, 0L, path, append = true) // replay
    val back = spark.read.parquet(path)
      .select(col("delta_id"), col("base_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(back == Seq((20L, 10L)), back.mkString(","))
  }

  test("q123 stream simhash batch body absorbs an at-least-once replay") {
    // the SimHash twin of the q115 replay test: per-batch candidates
    // (batch band signatures x persisted base signature table, exact
    // hamming rescore) through the same idempotent per-batch-id sink
    val dir = tempDir("graft_q123_replay_").toFile
    val path = dir.getAbsolutePath
    val base = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "completely unrelated text about spark physical planning"))
      .toDF("doc_id", "text")
    val baseSig = graft.queries.Fragments.simhashBaseSig(base)
    // batch doc 20 duplicates base doc 10's text => hamming 0 pair
    val batch = Seq((20L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val cand = graft.queries.Fragments.streamBatchSimhash(batch, baseSig)
    Streaming.writeBatch(cand, 0L, path, append = true)
    Streaming.writeBatch(cand, 0L, path, append = true) // replay
    val back = spark.read.parquet(path)
      .select(col("delta_id"), col("base_id"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(back == Seq((20L, 10L, 0L)), back.mkString(","))
  }

  test("q135 stream semantic batch body absorbs an at-least-once replay") {
    // the embedding family's twin of the q115/q123 replay tests: batch
    // cell index x persisted base cell index, cosine >= tau, through
    // the same idempotent per-batch-id sink
    val dir = tempDir("graft_q135_replay_").toFile
    val path = dir.getAbsolutePath
    val base = Seq((10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // default nCells: the batch body assigns with the same default, and
    // base/batch cell spaces must be identical for the equi-join
    val baseIdx = graft.ext.Similarity.cellIndex(base, "vec_id", "embedding")
    // batch vec 20 is a near-copy of base vec 10 => same cell, sim ~ 1
    val batch = Seq((20L, Array(0.999f, 0.01f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cand = graft.queries.AnnQueries.streamBatchSemantic(batch, baseIdx)
    Streaming.writeBatch(cand, 0L, path, append = true)
    Streaming.writeBatch(cand, 0L, path, append = true) // replay
    val back = spark.read.parquet(path)
      .select(col("delta_id"), col("base_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(back.map(t => (t._1, t._2)) == Seq((20L, 10L)), back.mkString(","))
    assert(back.head._3 > 0.99)
  }

  test("q137 stream index batch body absorbs an at-least-once replay") {
    // the index-maintenance twin of the q115/q123/q135 replay tests:
    // per-batch quantized-index rows through the idempotent
    // per-batch-id sink — replaying a micro-batch must not duplicate
    // index entries
    val dir = tempDir("graft_q137_replay_").toFile
    val path = dir.getAbsolutePath
    val batch = Seq((20L, Array(0.5f, 0.0f, 0.0f, 0.0f)),
      (21L, Array(0.0f, 0.25f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val idx = graft.queries.AnnQueries.streamBatchQuantIndex(batch)
    Streaming.writeBatch(idx, 0L, path, append = true)
    Streaming.writeBatch(idx, 0L, path, append = true) // replay
    val back = spark.read.parquet(path)
      .select(col("id"), col("scale"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(back.keySet == Set(20L, 21L), back.toString)
    // scale is the max-abs of the raw vector — exact per construction
    assert(back(20L) == 0.5 && back(21L) == 0.25)
  }

  test("q144 stream cluster merge absorbs an at-least-once replay") {
    // the stateful twin of the q115/q123/q135/q137 replay tests: a
    // replayed batch recomputes the SAME label version from the same
    // (prior-version) inputs through the per-batch-id sink
    val dir = tempDir("graft_q144_replay_").toFile
    val path = dir.getAbsolutePath
    val prevLab = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "lab")
    val batch = Seq((30L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batchSig = graft.ext.Dedup.bandedSignatures(batch, "text", "doc_id", k = 8)
    val priorSig = graft.ext.Dedup.bandedSignatures(
      Seq((1L, "wholly unrelated text one two three")).toDF("doc_id", "text"),
      "text", "doc_id", k = 8)
    val merged = graft.queries.DedupQueries.streamBatchClusterMerge(
      batchSig, priorSig, prevLab, batch.select(col("doc_id")))
    Streaming.writeBatch(merged, 1L, path, append = true)
    Streaming.writeBatch(merged, 1L, path, append = true) // replay
    val back = spark.read.parquet(s"$path/batch_id=1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no candidate overlap: 30 stays a singleton, base labels ride through
    assert(back == Map(1L -> 1L, 2L -> 1L, 30L -> 30L), back.toString)
  }

  test("q149 stream span owners: min-merge is order-independent and absorbs replay") {
    // two batches containing claimants of the SAME span key in
    // opposite arrival orders must converge to the same (min) owner,
    // and replaying a merge recomputes the same version
    val dir = tempDir("graft_q149_replay_").toFile
    val path = dir.getAbsolutePath
    val text = "one two three four five six seven eight"
    val baseOwn = Seq("ffff").toDF("k").limit(0) // empty owner set
    val b1 = Seq((20L, text)).toDF("doc_id", "text")
    val b2 = Seq((10L, text)).toDF("doc_id", "text") // same span, smaller id, LATER batch
    val q = graft.queries.DedupQueries
    val v0 = q.streamBatchSpanOwners(b1, baseOwn, None)
    Streaming.writeBatch(v0, 0L, path, append = true)
    val v1 = q.streamBatchSpanOwners(b2, baseOwn,
      Some(spark.read.parquet(s"$path/batch_id=0")))
    Streaming.writeBatch(v1, 1L, path, append = true)
    Streaming.writeBatch(v1, 1L, path, append = true) // replay
    val owner = spark.read.parquet(s"$path/batch_id=1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // the later-arriving smaller doc_id wins the key — global-min rule
    assert(owner.values.toSet == Set(10L), owner.toString)
  }

  test("stream inputs are keyed per corpus path: two paths with one String.hashCode do not alias") {
    // "<root>/Aa" and "<root>/BB" share a String.hashCode, so an input
    // dir keyed on that hash hands BB's run the stream Aa's run wrote
    val root = tempDir("graft-alias")
    val (aa, bb) = (root.resolve("Aa"), root.resolve("BB"))
    assert(aa.toString.hashCode == bb.toString.hashCode)
    java.nio.file.Files.createDirectories(aa)
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "events.parquet"),
      aa.resolve("events.parquet"))
    spark.read.parquet(s"$sf0001/events.parquet").filter(col("event_id") % 2 === 0)
      .write.parquet(bb.resolve("events.parquet").toString)
    val q78 = SparkEntry.queries("q78_stream_daily")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val onAa = rows(q78(spark, aa.toString))
    val own = rows(Streaming.dailyAggregation(graft.util.Tables.events(spark, bb.toString))
      .select(to_date(col("day_start")).as("day"), col("event_type"), col("n"),
        col("total_value"))
      .orderBy(col("day"), col("event_type")))
    assert(own != onAa, "the two corpora must aggregate differently")
    assert(rows(q78(spark, bb.toString)) == own)
  }

  test("q137 incremental index (base ∪ per-batch deltas) equals a full batch rebuild") {
    // the invariant the q137 oracle gates at the fixture scales,
    // asserted here on a local frame: appending per-batch index slices
    // to a base index yields EXACTLY the index a from-scratch rebuild
    // of the union corpus produces — maintenance never degrades the
    // artifact
    val base = Seq((1L, Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.9f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val b1 = Seq((10L, Array(0.1f, 0.0f, 0.8f, 0.0f))).toDF("vec_id", "embedding")
    val b2 = Seq((11L, Array(0.0f, 0.0f, 0.0f, -0.7f))).toDF("vec_id", "embedding")
    val incremental = graft.ext.Similarity
      .quantizedIndex(base, "vec_id", "embedding")
      .unionByName(graft.queries.AnnQueries.streamBatchQuantIndex(b1))
      .unionByName(graft.queries.AnnQueries.streamBatchQuantIndex(b2))
    val rebuild = graft.ext.Similarity.quantizedIndex(
      base.unionByName(b1).unionByName(b2), "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cell"), col("id"), col("code"), col("scale"), col("cnorm"))
        .collect().map(_.toSeq).toSet
    assert(rows(incremental) == rows(rebuild))
  }

  /** sf0.001 events split into 4 files: `eventsStream` reads one file
    * per micro-batch, so a drain of it runs 4 batches.
    */
  private def fourFileStream(): (org.apache.spark.sql.DataFrame, String) = {
    val dir = tempDir("graft-drain").toString
    val in = s"$dir/in"
    graft.util.Tables.events(spark, sf0001).select(col("event_id"), col("ts"))
      .repartition(4).write.mode("overwrite").parquet(in)
    (Streaming.eventsStream(spark, in, spark.read.parquet(in).schema), dir)
  }

  test("drain scopes shuffle partitions to the run and stops its query, thrown or not") {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    assert(prior != "3")
    val (stream, dir) = fourFileStream()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    Streaming.drain(stream, s"$dir/ck1", 3) { (batch, id) =>
      seen += id -> batch.sparkSession.conf.get("spark.sql.shuffle.partitions")
    }
    assert(seen.toSeq == (0L to 3L).map(_ -> "3"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior)
    assert(spark.streams.active.isEmpty)

    val thrown = intercept[Exception] {
      Streaming.drain(stream, s"$dir/ck2", 3) { (_, id) =>
        if (id == 1L) throw new IllegalStateException("drain body failed at batch 1")
      }
    }
    val causes = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => Option(c.getMessage)
      .exists(_.contains("drain body failed at batch 1"))), thrown.toString)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior)
    assert(spark.streams.active.isEmpty)
  }

  test("a drain stays on the caller's session: its listener sees one progress event per batch") {
    // a stream started on spark.newSession() or a cloned session reports
    // no progress to this listener; the drain's per-stream override is
    // kept on the caller's session so per-batch progress stays visible
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val (stream, dir) = fourFileStream()
    val progressed = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.sources.exists(_.description.contains(dir)))
          progressed.add(e.progress.batchId)
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.streams.addListener(listener)
    try {
      Streaming.drain(stream, s"$dir/ck", 4)((_, id) => batches += id)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    assert(batches.toSeq == (0L to 3L))
    assert(progressed.toArray.toSeq.map(_.asInstanceOf[java.lang.Long].longValue)
      == batches.toSeq)
  }
}
