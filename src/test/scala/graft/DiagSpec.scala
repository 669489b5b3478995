package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.checks.Checks
import graft.tools.Diag

/** `Diag`'s three modes on one small registry entry: a stateless fraction
  * check, so every run plans and starts the same jobs.
  */
class DiagSpec extends SparkSpec {
  private val entry = "embedding_coverage"

  test("time reports one positive wall per run, their median and a JSON line") {
    val r = Diag.run(spark, "time", entry, sf, 2)
    assert(r.walls.size == 2 && r.walls.forall(_ > 0))
    assert(r.rows > 0 && r.jobs.isEmpty)
    assert(r.walls.contains(r.median))
    assert(r.json.startsWith("{\"tool\":\"diag\",\"mode\":\"time\"") &&
      r.json.contains("\"median_s\":") && !r.json.contains("\n"))
  }

  test("plan is the entry's formatted physical plan") {
    val r = Diag.run(spark, "plan", entry, sf, 1)
    assert(r.plan.contains("== Physical Plan =="))
    assert(r.text == r.plan && r.walls.isEmpty)
  }

  test("profile counts the entry's own jobs, not another thread's") {
    val stop = new AtomicBoolean(false)
    val otherJobs = new AtomicInteger()
    val other = new Thread(() =>
      while (!stop.get) { spark.range(1000).count(); otherJobs.incrementAndGet() })
    other.start()
    try {
      val r = Diag.run(spark, "profile", entry, sf, 1)
      spark.catalog.clearCache()
      val (_, n) = jobsDuring(Checks.byName(entry).run(spark, sf).count())
      assert(otherJobs.get > 0, "the other thread ran no job")
      assert(r.jobs.nonEmpty && r.jobs.size == n)
      assert(r.jobs.forall(_.ms >= 0))
      assert(r.json.contains(s"\"jobs\":$n,"))
    } finally { stop.set(true); other.join() }
  }

  test("an unknown mode or entry fails before any run") {
    intercept[IllegalArgumentException](Diag.run(spark, "trace", entry, sf, 1))
    intercept[IllegalArgumentException](Diag.run(spark, "time", "no_such_entry", sf, 1))
  }
}
