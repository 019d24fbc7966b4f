package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query (J1 exact sequential-greedy consolidation over
    * provider-derived frames, reference-faithful including conflict
    * fallthrough) on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q43_consolidate_exact")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2: the core
    * relational and consolidation operators, then the extension
    * families (BASELINE.json mandate: dedup, similarity search, text
    * analysis, curation, mixture, multimodal plumbing, sessionization),
    * each with a DuckDB oracle where expressible. Every family object
    * holds its `queries` and `oracleSql` maps side by side. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_.queries).reduce(_ ++ _)

  /** The registry's query families; their key sets are disjoint. */
  def families: Seq[QueryFamily] = Seq(CoreQueries, DedupQueries,
    AnnQueries, TextQueries, CurationQueries, MixtureQueries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.map(_.oracleSql).reduce(_ ++ _)
}
