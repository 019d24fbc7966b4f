package graft.util

import org.apache.spark.sql.SparkSession

/** The ONE engine session config every entry point inherits (VERDICT
  * r18 #8): Bench (timing), Verify (correctness), TimeOne/ProfileOne
  * (dev isolation) previously each repeated the config, so an
  * engine-level setting added to the bench but missed in a harness
  * would silently measure correctness and speed under different
  * engines. Deployments embedding the engine get the same defaults by
  * building on this.
  *
  * Notes on the non-default values:
  *   - `hugeMethodLimit=8000`: align Spark's whole-stage-codegen size
  *     cap with HotSpot's JIT compile limit
  *     (-XX:DontCompileHugeMethods = 8000 bytecodes). Spark's 65535
  *     default admits generated methods the JVM will never JIT,
  *     leaving a fused stage's hot loop interpreted forever (round 18
  *     §6: q237 17.5 → 7.6 s, q94 5.3 → 1.7 s at sf0.1). A JVM
  *     constant — host- and scale-independent, not a tuning knob.
  *   - `autoBroadcastJoinThreshold=64MB`: the engine's bounded
  *     artifact frames (query sets, shortlists, centroid tables) sit
  *     in the 10–64 MB estimated range after filters; the 10 MB
  *     default demoted provably-bounded builds to sort-merge joins.
  *     Scale-safe: every frame relying on it is cardinality-bounded
  *     by construction (collect-discipline artifacts), not
  *     data-proportional.
  *   - `parallelPartitionDiscovery.threshold=Int.MaxValue`: list
  *     files on the driver, always. Above the default threshold (32
  *     paths) Spark lists through a Spark job, one task per path; the
  *     session is `local[N]`, so those tasks run on this JVM's own
  *     threads and add nothing but per-task overhead (50–70 ms each on
  *     a 4-core host). q72's 46-directory `partitionBy` CSV read-back
  *     resolved in 1.2–1.5 s through two such jobs, against 0.2 s
  *     listed on the driver.
  *   - `codegen.cache.maxEntries=4000`: Spark's default codegen cache
  *     holds 100 classes, fewer than one etl_daily pass uses, so each
  *     warm pass recompiled 47 classes the pass before had evicted;
  *     a warm q179 run recompiled 1,043 classes with 100 entries and
  *     204 with 4000. A static conf, so it takes
  *     effect only when set at session build. It helps repeats only:
  *     a daily run in a fresh JVM pays its cold compiles either way.
  *   - shuffle partitions default to the core count; production
  *     deployments override per guide §2.2 (AQE coalescing stays on
  *     either way).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
}
