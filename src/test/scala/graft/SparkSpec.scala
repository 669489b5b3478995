package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Driver-generated testdata root for scale factor `name` — the single
    * place the path convention lives (ADVICE r5: suites that need a
    * larger corpus derive it here, never inline).
    */
  def sfDir(name: String): String = s"/root/testdata/sf$name"
  val sf: String = sfDir("0.001")

  /** `body`'s result and the number of Spark jobs started on this thread
    * while it ran (jobs are tagged through a thread-local property, so
    * late events of earlier work never count).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("graft.spec.tag") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val out = body
      org.apache.spark.SpecListenerBus.drain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
