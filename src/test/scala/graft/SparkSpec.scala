package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy), built
  * on the engine config the bench times and Verify dumps under, so
  * plan pins are taken under the same engine.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = graft.util.GraftSession.builder("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Default-suite budget (VERDICT r16 #7): >5 s maintenance-
    * equivalence / training-eval pins for SETTLED waves run under
    * GRAFT_FULL_SMOKE=1 (mandatory at round close); the fast default
    * gate keeps every cheap pin, the whole current wave, and the
    * sampled query smoke. Call at the top of a gated test.
    */
  /** Runs `body` and returns its result with the descriptions of the
    * Spark jobs it started. Only jobs in a job group set for the call
    * count, so a job another thread starts meanwhile is not counted.
    */
  protected def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add(p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .getOrElse(""))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      TestBus.drain(sc)
      (r, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  protected val fullSmoke: Boolean = sys.env.contains("GRAFT_FULL_SMOKE")
  protected def slowGate(): Unit =
    if (!fullSmoke) cancel("settled-wave heavy gate runs under " +
      "GRAFT_FULL_SMOKE=1 (round close)")
}
