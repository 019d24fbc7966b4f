package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink modes (SURVEY.md §2.9) as DataFrameWriter idioms.
  *
  * K1 clear+rewrite → mode(Overwrite); K2 append-historization →
  * mode(Append) partitioned by run date (so daily runs land in their
  * own partition and a 100 TB table prunes on read); K3 CSV export with
  * ISO-rendered timestamps and ""-for-null; K4 truncated JSON preview.
  */
object Sinks {

  /** K1 — overwrite snapshot (`core/gsheet.py:95-125`), including its
    * skip-when-empty guard (`gsheet.py:101-104`).
    */
  def overwriteSnapshot(df: DataFrame, path: String): Boolean = {
    if (df.isEmpty) false
    else {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      true
    }
  }

  /** K2 — append-only historization (`storage/google_sheets.py:20-79`),
    * partitioned by ingestion run for partition-pruned reads and safe
    * concurrent daily appends.
    */
  def appendHistorized(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append)
      .partitionBy("ingestion_run_id")
      .parquet(path)

  /** K3 — CSV export (`storage/google_sheets.py:81-100,139-160`):
    * header, ISO timestamps, empty-string nulls, one file per day key
    * (partition column mirrors the reference's per-day filenames).
    */
  def csvExport(df: DataFrame, path: String, dayCol: String): Unit = {
    val rendered = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType.typeName match {
        case "timestamp" | "timestamp_ntz" =>
          acc.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd'T'HH:mm:ss"))
        case _ => acc
      }
    }
    rendered.write.mode(SaveMode.Overwrite)
      .partitionBy(dayCol)
      .option("header", "true")
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)
  }

  /** K4 — JSON preview (`cli.py:44-55`): first 20 rows by a
    * deterministic order, timestamps ISO-rendered, non-ASCII preserved
    * (Spark's JSON writer emits UTF-8, matching ensure_ascii=False).
    */
  def jsonPreview(df: DataFrame, path: String, orderCols: Seq[String]): Unit =
    df.orderBy(orderCols.map(col): _*).limit(20)
      .write.mode(SaveMode.Overwrite).json(path)

  /** K5 — debug artifacts (`shotgun.py:261-268,465-474`): the reference
    * drops a counts file (`cards_detected=… parsed=… sample=[…]`), a
    * page screenshot, and the raw page HTML next to its outputs when a
    * run needs forensics. The engine-native equivalents: a row-count +
    * head-sample counts file, the executed physical plan (what actually
    * ran — the engine's "screenshot"), and a bounded JSON sample of the
    * frame itself (the raw material). Best-effort like the reference's
    * try/except: a failed artifact write never risks the pipeline
    * result. All driver-side reads are bounded (`count` + `limit(n)`).
    */
  def debugArtifacts(df: DataFrame, dir: String, sampleCol: String,
      n: Int = 10): Unit = {
    try {
      val path = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(path)
      val total = df.count()
      val sample = df.select(col(sampleCol)).limit(n).collect()
        .map(r => String.valueOf(r.get(0)))
      java.nio.file.Files.writeString(path.resolve("counts.txt"),
        s"rows=$total sample=${sample.mkString("[", ", ", "]")}\n")
      java.nio.file.Files.writeString(path.resolve("plan.txt"),
        df.queryExecution.executedPlan.toString)
      df.limit(n).coalesce(1).write.mode(SaveMode.Overwrite)
        .json(s"$dir/sample_json")
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
