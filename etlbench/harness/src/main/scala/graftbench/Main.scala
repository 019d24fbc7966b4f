package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.util.{GraftSession, Tables}

/** The timed JVM of the benchmark. `run.py` launches it with plain
  * `java -cp`; it prints one `RESULT {json}` line on stdout.
  *
  * It sets up, then runs one cold pass over the workload's queries
  * (results written for the oracle check), then warm passes for
  * `--seconds`. With `--trace 1` the cold pass and one extra warm pass
  * are traced by layer, and the custom kernels are timed in isolation.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * millisecond timestamps Spark's listener events carry.
    */
  private def nowMs(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = os.getProcessCpuTime / 1e9
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Host CPU steal in seconds since boot, summed over CPUs
    * (`/proc/stat`, USER_HZ = 100); -1 where unavailable.
    */
  private def stealS(): Double =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0
      finally f.close()
    }.getOrElse(-1.0)
  private def load1(): Double =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.getLines().next().split(" ")(0).toDouble finally f.close()
    }.getOrElse(-1.0)

  /** Heap in use right after a full collection. Called after the
    * untimed `System.gc()` between queries, which G1 runs as a
    * stop-the-world full collection, so the value is the live set at
    * that query boundary.
    */
  private def liveHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  final case class QueryRun(qid: String, startMs: Double, builtMs: Double,
      endMs: Double, cpuS: Double, gcS: Double, liveMb: Double, error: Option[String]) {
    def seconds: Double = (endMs - startMs) / 1e3
  }
  final case class Pass(kind: String, runs: Seq[QueryRun], stealS: Double, load: Double) {
    def wallS: Double = runs.map(_.seconds).sum
    def cpuS: Double = runs.map(_.cpuS).sum
    def gcS: Double = runs.map(_.gcS).sum
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val t0 = nowMs()
    val input = arg(args, "input")
    val cpus = arg(args, "cpus")
    val work = arg(args, "work")
    val spark = GraftSession.builder(cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = nowMs()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, input, t).createOrReplaceTempView(t))
    Tables.events(spark, input).createOrReplaceTempView("events")
    val t2 = nowMs()
    val setup = Map(
      "setup_s" -> (t2 - t0) / 1e3,
      "session_build_s" -> (t1 - t0) / 1e3,
      "tables_load_s" -> (t2 - t1) / 1e3)
    val result = setup ++ run(spark, input, arg(args, "out"),
      arg(args, "queries").split(",").toSeq, arg(args, "seconds").toDouble,
      arg(args, "trace") == "1", cpus.toInt)
    println("RESULT " + mapper.writeValueAsString(result))
    spark.stop()
    sys.exit(0)
  }

  private def run(spark: SparkSession, input: String, out: String,
      queries: Seq[String], seconds: Double, trace: Boolean, cpus: Int): Map[String, Any] = {
    val fns = queries.map(q => q -> SparkEntry.queries(q))

    def runPass(kind: String, sink: (String, DataFrame) => Unit): Pass = {
      val steal0 = stealS()
      val runs = fns.map { case (qid, fn) =>
        val c0 = cpuS()
        val g0 = gcS()
        val a = nowMs()
        var b = a
        val error =
          try {
            val df = fn(spark, input)
            b = nowMs()
            sink(qid, df)
            None
          } catch {
            case e: Exception =>
              if (b == a) b = nowMs()
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          }
        val (end, cpu, gc) = (nowMs(), cpuS() - c0, gcS() - g0)
        // untimed, as in graft.Bench: persisted frames from this run must
        // not serve the next one, and the collector runs between queries
        // rather than inside one
        spark.catalog.clearCache()
        System.gc()
        QueryRun(qid, a, b, end, cpu, gc, liveHeapMb(), error)
      }
      Pass(kind, runs, stealS() - steal0, load1())
    }
    val toParquet: (String, DataFrame) => Unit = (qid, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$qid")
    val toNoop: (String, DataFrame) => Unit = (_, df) =>
      df.write.format("noop").mode("overwrite").save()

    val tracer = if (trace) Some(new Tracer(spark, out)) else None
    def traced(kind: String, sink: (String, DataFrame) => Unit): (Pass, Map[String, Any]) = {
      val tr = tracer.get
      tr.clear()
      val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val cc0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      tr.attach()
      val pass = runPass(kind, sink)
      tr.detach()
      (pass, layers(pass, tr, tr.snapshot()) ++ Map(
        "codegen.compile_s" -> (org.apache.spark.sql.catalyst.expressions.codegen
          .CodeGenerator.compileTime - cg0) / 1e9,
        "codegen.compiles" -> (org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount - cc0).toDouble,
        "exec.gc_s" -> pass.gcS))
    }

    new java.io.File(out).mkdirs()
    val (cold, coldLayers) =
      if (trace) traced("cold", toParquet) else (runPass("cold", toParquet), Map.empty)
    val warm = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val minWarm = 3
    while (warm.size < minWarm || warm.map(_.wallS).sum < seconds)
      warm += runPass("warm", toNoop)
    val tracedWarm = if (trace) Some(traced("warm", toNoop)) else None
    val passes = Seq(cold) ++ warm ++ tracedWarm.map(_._1)
    val failures = passes.flatMap(p => p.runs.flatMap(r => r.error.map(e => (p.kind, r.qid, e))))
    val oracle = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      mapper.writeValueAsString(oracle))
    val kernels =
      if (!trace) Map.empty[String, Any]
      else {
        val (rates, missing) = Kernels.measure(spark, cpus)
        Map("kernels" -> rates.toMap, "kernels_missing" -> missing)
      }
    Map(
      "queries" -> queries,
      "passes" -> passes.map(p => Map(
        "kind" -> p.kind, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "steal_s" -> p.stealS, "load" -> p.load,
        "query_s" -> p.runs.map(r => r.qid -> r.seconds).toMap)),
      "cold_pass_s" -> cold.wallS,
      "warm_pass_s" -> median(warm.map(_.wallS).toSeq),
      "warm_cpu_s" -> median(warm.map(_.cpuS).toSeq),
      // a single query boundary sometimes still holds 30-60 MB that the
      // next one has released, so each query's live heap is the median
      // over the passes, and the peak is taken over queries
      "heap_peak_mb" -> queries.map(q =>
        median(passes.map(_.runs.find(_.qid == q).get.liveMb))).max,
      "attempted" -> passes.map(_.runs.size).sum,
      "failures" -> failures.map { case (kind, qid, e) =>
        Map("pass" -> kind, "query" -> qid, "error" -> e) },
      "layers" -> Map("cold" -> coldLayers,
        "warm" -> tracedWarm.map(_._2).getOrElse(Map.empty)),
      // against the untraced passes just before it, which are as warm
      "trace_overhead_s" -> tracedWarm.map(_._1.wallS -
        median(warm.takeRight(2).map(_.wallS).toSeq)).getOrElse(0.0),
      "query_cold_s" -> cold.runs.map(r => r.qid -> r.seconds).toMap,
      "query_warm_s" -> queries.map(q =>
        q -> median(warm.toSeq.map(_.runs.find(_.qid == q).get.seconds))).toMap
    ) ++ kernels
  }

  /** Per-layer record of one traced pass: counters summed over the pass,
    * the benchmark's own build/action split, and self times. The six
    * self times (`self.build_s`, `self.catalyst_s`, `exec.job_wall_s`,
    * `self.sinks_s`, `self.streaming_s`, `exec.driver_gap_s`) add up to
    * `pass_s`; codegen time is spent inside them and is reported beside.
    */
  private def layers(pass: Pass, tr: Tracer, counts: Map[String, Double]): Map[String, Any] = {
    val spans = tr.spans.asScala.toSeq
    val self = Array.fill(Layer.names.size)(0.0)
    pass.runs.foreach { r =>
      val own = Seq(Span(r.startMs, r.builtMs, Layer.Build), Span(r.builtMs, r.endMs, Layer.Exec))
      Layer.selfTimes(r.startMs, r.endMs, spans ++ own).zipWithIndex
        .foreach { case (s, i) => self(i) += s }
    }
    val selfBy = Layer.names.zip(self).toMap
    val triggers = tr.triggersMs.asScala.map(_.doubleValue / 1e3).toSeq.sorted
    val keys = Seq("catalyst.analysis_s", "catalyst.optimizer_s", "catalyst.planning_s",
      "catalyst.executions", "exec.jobs", "exec.task_cpu_s", "exec.shuffle_write_bytes",
      "exec.spill_bytes", "exec.input_bytes", "sinks.write_s", "sinks.files_written",
      "sinks.bytes_written", "streaming.batches", "streaming.plan_s",
      "streaming.addbatch_s", "streaming.wal_s")
    keys.map(k => k -> counts.getOrElse(k, 0.0)).toMap ++ Map(
      "pass_s" -> pass.wallS,
      "queries.build_s" -> pass.runs.map(r => (r.builtMs - r.startMs) / 1e3).sum,
      "exec.job_wall_s" -> selfBy("jobs"),
      "exec.driver_gap_s" -> (selfBy("sql") + selfBy("exec")),
      "streaming.trigger_p50_s" ->
        (if (triggers.isEmpty) 0.0 else triggers((triggers.size - 1) / 2)),
      "streaming.trigger_max_s" -> triggers.lastOption.getOrElse(0.0),
      "self.build_s" -> selfBy("build"),
      "self.catalyst_s" -> selfBy("catalyst"),
      "self.sinks_s" -> selfBy("sinks"),
      "self.streaming_s" -> selfBy("streaming"))
  }
}
