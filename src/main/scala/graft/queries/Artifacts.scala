package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Streaming
import graft.util.Tables

/** Where a query's persisted state lives: per-invocation temp dirs,
  * and session artifacts keyed `graft_<name>_<dirToken(d)>`, written on
  * the key's first use and read back through [[Tables.parquet]]'s
  * schema memo. The maintenance queries rest on reusing this state
  * instead of recomputing it, so how it is keyed, written and read is
  * decided here and nowhere else.
  */
object Artifacts {
  /** Every live dir, for ONE shared JVM shutdown hook: a bench/verify
    * session invoking 70+ queries x 3 runs previously registered
    * hundreds of hooks and kept every data copy on disk until JVM exit.
    * Keyed by temp-dir prefix or artifact key.
    */
  private val tempDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private lazy val tempDirHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.values.forEach(p => rmTree(p.toFile))
    }))
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** Fresh temp dir per invocation (sink read-backs, stream outputs and
    * checkpoints). The previous invocation's dir for the same prefix is
    * deleted eagerly: each invocation fully materializes its read-back
    * before the query can run again.
    */
  private[graft] def tempQueryDir(prefix: String): String = {
    tempDirHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Option(tempDirs.put(prefix, dir)).foreach(prev => rmTree(prev.toFile))
    dir.toFile.getAbsolutePath
  }

  /** Path-unique session-artifact key token for an input dir: basename
    * (human-readable: `sf0.01`) plus a full-path digest. Basename alone
    * is ambiguous — two corpora named `sf0.01` under different parents
    * in one session would silently serve the first corpus' artifact to
    * the second (ADVICE r10). The digest is the first 10 hex chars of
    * md5(path), not String.hashCode (ADVICE r11): a 32-bit hash
    * collision between two live paths would reintroduce exactly the
    * silent wrong-artifact aliasing this token exists to prevent.
    */
  private def dirToken(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString
    s"${new java.io.File(d).getName}_$md"
  }

  /** Session-shared materialization dir of artifact `name` over corpus
    * `d`: `write` runs on the FIRST use of the key this session; later
    * invocations reuse the files (the bench invokes each query several
    * times, and a stream's INPUT is a deterministic function of the sf
    * dir — rewriting it per run benches the parquet writer, not the
    * stream). The path is per-process, so concurrent JVMs (a `Dev time`
    * session next to a bench) never clobber or shutdown-delete each
    * other's files, and the key is registered only AFTER a successful
    * write — a failed first write is retried on the next invocation
    * instead of poisoning the whole session with partial files. `write`
    * must overwrite: the retry then clobbers the partial output instead
    * of failing on it. Registered for the shared shutdown cleanup but
    * exempt from eager per-run deletion. [[artifact]] and
    * [[stagedStream]] cover the one-frame writers.
    */
  private[graft] def sharedInputDir(d: String, name: String)(write: String => Unit): String = {
    tempDirHook
    val key = s"graft_${name}_${dirToken(d)}"
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${key}_p${ProcessHandle.current().pid()}")
    if (!tempDirs.containsKey(key)) {
      write(p.toString)
      tempDirs.put(key, p): Unit
    }
    p.toString
  }

  /** `frame` as `files` parquet files (as it is partitioned when None). */
  private def overwrite(frame: => DataFrame, files: Option[Int])(p: String): Unit = {
    val f = frame
    files.fold(f)(f.repartition(_)).write.mode("overwrite").parquet(p)
  }

  /** Artifact `name` over corpus `d`: `frame` is built and written only
    * on the key's first use this session; every call returns the
    * read-back.
    */
  private[graft] def artifact(s: SparkSession, d: String, name: String,
      files: Option[Int] = None)(frame: => DataFrame): DataFrame =
    Tables.parquet(s, sharedInputDir(d, name)(overwrite(frame, files)))

  /** `frame` staged once per session as `files` parquet files under
    * `name`, read back as a file stream. The stream takes one file per
    * trigger, so `files` is the micro-batch count; checkpoint and output
    * stay with the caller, fresh per invocation, so every run
    * re-processes the whole stream.
    */
  private[graft] def stagedStream(s: SparkSession, d: String, name: String,
      frame: DataFrame, files: Int): DataFrame =
    Streaming.eventsStream(s,
      sharedInputDir(d, name)(overwrite(frame, Some(files))), frame.schema)
}
