package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.util.GraftSession

/** The one dev CLI: `sbt "runMain graft.Dev <mode> [args]"`. Every mode
  * but `core-ladder` runs on ONE session built by [[GraftSession]], the
  * engine config Bench times and Verify dumps under, so a dev timing or
  * plan dump describes the engine the bench measures.
  *
  * Settings come from the environment, as Bench and Verify read them:
  *   - `SPARK_GRAFT_CPUS`: cores and shuffle partitions (default 4);
  *   - `SPARK_GRAFT_SF_DIR`: the corpus. The timing modes (`time`,
  *     `profile`, `core-ladder`) default to sf0.1, the bench scale; the
  *     plan modes (`plan`, `exec-plan`, `audit`, `plans`) default to
  *     sf0.001, where eager-at-build training collects stay trivial.
  *     `scale-ladder` defaults to all three fixture scales.
  */
object Dev {
  val usage: String =
    """usage: graft.Dev <mode> [args]
      |  time <query>                            warm run, cache cleared, timed noop write
      |  profile <query>                         time, plus one line per Spark job and byte totals
      |  plan <outDir> <suffix> <query...>       formatted plans to <outDir>/<qNN>_<suffix>.txt
      |  exec-plan <outDir> <suffix> <query...>  executed (post-AQE) plans, same files
      |  smoke                                   SparkEntry.entry row count
      |  audit                                   PlanAudit sweep of the registry
      |  plans                                   regenerate PLANS.md in the working directory
      |  scale-ladder                            SCALE_LADDER.md rows
      |  core-ladder [factor] [query...]         8- vs 32-core times on factor x replicated fixtures
      |environment: SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_SF_DIR (default per mode)""".stripMargin

  /** The fixture corpora (TESTDATA.md), under the home directory as
    * etlbench reads them.
    */
  private val Fixtures = s"${sys.props("user.home")}/testdata"
  private val TimingSf = "sf0.1"
  private val PlanSf = "sf0.001"

  def main(args: Array[String]): Unit = {
    val (mode, rest) = (args.headOption.getOrElse(""), args.toSeq.drop(1))
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    // the ladder times two core counts, so it builds its sessions itself
    if (mode == "core-ladder") CoreLadder.run(sfDir.getOrElse(s"$Fixtures/$TimingSf"), rest)
    else {
      val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
        .getOrCreate()
      // WARN, not ERROR: plan-level warnings (WindowExec "No Partition
      // Defined") are part of what a dev run is for
      spark.sparkContext.setLogLevel("WARN")
      try run(spark, mode, rest, sfDir) finally spark.stop()
    }
  }

  /** Runs one single-session mode on `spark` and leaves the session
    * running; `sfDir` replaces the mode's default corpus. An unknown
    * mode or a wrong argument count throws with [[usage]].
    */
  def run(spark: SparkSession, mode: String, args: Seq[String],
      sfDir: Option[String] = None): Unit = {
    def corpus(sf: String): String = sfDir.getOrElse(s"$Fixtures/$sf")
    (mode, args) match {
      case ("time", Seq(name)) =>
        val (fn, dir) = (SparkEntry.queries(name), corpus(TimingSf))
        warm(spark, fn, dir)
        println(f"TIMED ${seconds(noop(fn(spark, dir)))}%.2f s  $name")
      case ("profile", Seq(name)) =>
        val (fn, dir) = (SparkEntry.queries(name), corpus(TimingSf))
        warm(spark, fn, dir)
        val (sc, p) = (spark.sparkContext, new JobProfile)
        sc.addSparkListener(p)
        val t = try {
          val t = seconds(noop(fn(spark, dir)))
          GraftBus.drain(sc)
          t
        } finally sc.removeSparkListener(p)
        p.jobs.asScala.foreach(println)
        println(f"PROFILE $t%.2f s  $name  jobs=${p.jobs.size}  " +
          f"input=${p.inputBytes / 1e6}%.1f MB  shufR=${p.shuffleRead / 1e6}%.1f MB  " +
          f"shufW=${p.shuffleWrite / 1e6}%.1f MB")
      case ("plan" | "exec-plan", Seq(outDir, suffix, names @ _*)) if names.nonEmpty =>
        val tag = if (mode == "plan") "PLAN" else "EXECPLAN"
        Files.createDirectories(Paths.get(outDir))
        names.foreach { name =>
          try {
            val df = SparkEntry.queries(name)(spark, corpus(PlanSf))
            // collect() executes THIS df's QueryExecution, so the
            // executed plan is AQE's final one with codegen ids `*(n)`
            val txt =
              if (mode == "plan") df.queryExecution.explainString(FormattedMode)
              else { df.collect(); df.queryExecution.executedPlan.toString }
            val file = Paths.get(outDir, s"${name.takeWhile(_ != '_')}_$suffix.txt")
            Files.writeString(file, txt)
            def n(s: String): Int = s.r.findAllIn(txt).length
            // an executed plan marks each whole-stage-codegen span `*(id)`
            val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(txt).map(_.group(1)).toSet.size
            val counts =
              if (mode == "plan") s"exchanges=${n("Exchange")}"
              else s"codegenSpans=$spans, exchanges=${n("Exchange")}, " +
                s"scans=${n("FileScan")}, cacheReads=${n("InMemoryTableScan")}"
            println(s"$tag $name -> $file ($counts)")
          } catch { case NonFatal(e) => println(s"$tag $name FAILED: ${e.getMessage}") }
        }
      case ("smoke", Seq()) =>
        println(s"ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
      case ("audit", Seq()) =>
        PlanAudit.report(spark, corpus(PlanSf))
      case ("plans", Seq()) =>
        Files.writeString(Paths.get("PLANS.md"), PlanReport.markdown(spark, corpus(PlanSf)))
        println("WROTE PLANS.md")
      case ("scale-ladder", Seq()) =>
        ScaleLadder.report(spark, sfDir.map(Seq(_))
          .getOrElse(Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$Fixtures/$sf")))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Bench's protocol up to the timed run: one warm run (JIT, codegen,
    * footers, the session-shared parquet artifacts), then its persisted
    * frames dropped, as Bench clears the cache between runs. Without
    * the clear an artifact-heavy query times its hot path: q201 took
    * 3.5 s that way against 40.8 s under the bench protocol.
    */
  private def warm(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): Unit = {
    noop(fn(spark, dir))
    spark.catalog.clearCache()
    System.gc()
  }

  /** `profile`'s listener: one `JOB` line per finished job (duration
    * and description) and the stage-level input and shuffle byte
    * totals, so the expensive leg of a multi-job query is visible
    * without the UI the session keeps disabled.
    */
  private class JobProfile extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new CopyOnWriteArrayList[String]()
    @volatile var inputBytes = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      started.put(js.jobId, (js.time, desc))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.get(je.jobId)).foreach { case (t0, desc) =>
        jobs.add(f"JOB ${je.jobId}%4d ${(je.time - t0) / 1e3}%7.2f s  $desc")
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        inputBytes += m.inputMetrics.bytesRead
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}
