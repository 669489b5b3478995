package graft

import org.apache.spark.sql.functions._

import graft.assess.Assessor
import graft.checks.Checks
import graft.model.{Registry, Workload}

/** A scorecard runs the fraction checks that declare one source as one
  * aggregate over it. Fusion must not move a value: each fused check's
  * integers and its one division equal the check's stand-alone run.
  */
class FractionFusionSpec extends SparkSpec {

  private def scored(w: Workload) = {
    val keys = Registry.forWorkload(w).map(_.key).toSet
    Checks.all.filter(c => c.isScore && keys(c.name))
  }

  Workload.all.foreach { w =>
    test(s"${w.name}: every fused check's hits, population and value equal its stand-alone run") {
      val checks = scored(w)
      val fused = checks.filter(_.fraction.isDefined)
      assert(fused.groupBy(_.fraction.get.source).values.exists(_.size > 2),
        "no source is shared by several checks")
      val got = Assessor.results(spark, sf, checks).map(r => r.requirement -> r).toMap
      assert(got.keySet == checks.map(_.name).toSet)
      fused.foreach { c =>
        val alone = c.run(spark, sf).collect().head
        val g = got(c.name)
        assert((g.hits, g.population, g.value) == ((alone.getAs[Long]("hits"),
          alone.getAs[Long]("population"), alone.getAs[Double]("value"))), c.name)
      }
    }
  }

  test("the Serving scorecard starts at most 120 Spark jobs") {
    val (rows, jobs) = jobsDuring(
      Assessor.scorecard(spark, sf, Workload.Serving).collect())
    assert(rows.length == scored(Workload.Serving).size)
    assert(jobs <= 120, s"the Serving scorecard started $jobs jobs")
  }

  Seq("distribution_currency" -> 10, "retrieval_recall_compliance" -> 13)
    .foreach { case (name, budget) =>
      test(s"$name alone starts at most $budget Spark jobs") {
        val c = Checks.all.find(_.name == name).get
        val (row, jobs) = jobsDuring(c.run(spark, sf).collect().head)
        assert(row.getAs[Long]("hits") == row.getAs[Long]("population"), row)
        assert(jobs <= budget, s"$name started $jobs jobs")
      }
    }

  test("a check that throws inside a fused group fails the scorecard and names the group's keys") {
    val checks = scored(Workload.Serving)
    val target = checks.find(_.name == "temporal_scope_declaration").get
    val boom = udf((a: String) =>
      if (a != null) throw new IllegalStateException("injected check failure") else true)
    val broken = target.fraction.get.copy(aggs = (_, _) =>
      (count_if(boom(col("asset"))), count(lit(1))))
    val group = checks.filter(_.fraction.exists(_.source == broken.source)).map(_.name)
    assert(group.size > 1)
    val e = intercept[RuntimeException](Assessor.results(spark, sf,
      checks.map(c => if (c eq target) c.copy(fraction = Some(broken)) else c)))
    group.foreach(k => assert(e.getMessage.contains(s"'$k'"), e.getMessage))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected check failure")))
  }
}
