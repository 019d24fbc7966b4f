package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata structs.
  *
  * The Spark-side plumbing (schema, batch shape, partitioning,
  * pipeline-able per-row transforms) is real; the codec itself is a
  * STUB — this container ships no image/audio libraries, so
  * [[fakeDecodeMeta]] derives deterministic metadata from the byte
  * length instead of decoding. Swap it for a real decoder as a
  * `mapPartitions` over batches (the Scala analog of PySpark's
  * `mapInPandas`) that pools the codec per partition, keeping the
  * same (binary → struct) signature.
  */
object Multimodal {

  /** Ingest a string column as its UTF-8 payload bytes (stand-in for
    * real image/audio blobs in the test tables).
    */
  def toBinary(c: Column): Column = encode(c, "UTF-8")

  /** STUB decode: deterministic fake metadata keyed on payload size.
    * Real implementation: partition-pooled codec via mapPartitions.
    */
  def fakeDecodeMeta(nBytes: Column): Column = struct(
    (lit(32) + pmod(nBytes, lit(224))).cast("long").as("width"),
    (lit(32) + pmod(nBytes * 7, lit(224))).cast("long").as("height"),
    (lit(1) + pmod(nBytes, lit(16))).cast("long").as("n_frames"))

  /** Evenly-spaced frame-sample byte offsets (n_frames samples over
    * the payload) — the "frame sampling" plan shape with the real
    * decode stubbed out.
    */
  def frameOffsets(nBytes: Column, nFrames: Column): Column = {
    val stride = floor(nBytes / nFrames).cast("long")
    transform(sequence(lit(0L), nFrames - 1), i => i * stride)
  }

  /** Full stub pipeline over a text-bearing frame: binary payload +
    * decoded metadata + frame offsets.
    */
  def decodePipeline(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val nBytes = octet_length(col(textCol)).cast("long")
    df.select(col(idCol),
        toBinary(col(textCol)).as("payload"),
        nBytes.as("n_bytes"),
        fakeDecodeMeta(nBytes).as("meta"))
      .select(col(idCol), col("payload"), col("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"),
        frameOffsets(col("n_bytes"), col("meta.n_frames")).as("frame_offsets"))
  }
}
