package graft

import graft.assess.{Assessor, Thresholds}
import graft.model.{Registry, Workload}

class AssessorSpec extends SparkSpec {

  test("serving scorecard covers exactly the implemented serving requirements") {
    val sc = Assessor.scorecard(spark, sf, Workload.Serving).collect()
    val servingKeys = Registry.forWorkload(Workload.Serving).map(_.key).toSet
    assert(sc.map(_.getAs[String]("requirement")).toSet.subsetOf(servingKeys))
    assert(sc.length == servingKeys.size) // all 44 serving checks implemented
    assert(sc.forall { r =>
      val v = r.getAs[Double]("value"); v >= 0.0 && v <= 1.0
    })
    // passed consistent with threshold
    assert(sc.forall(r => r.getAs[Boolean]("passed") ==
      (r.getAs[Double]("value") >= r.getAs[Double]("threshold"))))
  }

  test("training scorecard excludes serving-only requirements") {
    val sc = Assessor.scorecard(spark, sf, Workload.Training).collect()
    val trainingKeys = Registry.forWorkload(Workload.Training).map(_.key).toSet
    assert(!sc.map(_.getAs[String]("requirement")).contains("serving_latency_compliance"))
    assert(sc.length == trainingKeys.size)
  }

  test("factor rollup has all five factors and sane aggregates") {
    val ru = Assessor.factorRollup(spark, sf, Workload.Training).collect()
    assert(ru.map(_.getAs[Int]("factor")).toSeq == Seq(1, 2, 3, 4, 5))
    assert(ru.forall { r =>
      val a = r.getAs[Double]("avg_score"); val p = r.getAs[Double]("pass_rate")
      a >= 0 && a <= 1 && p >= 0 && p <= 1
    })
  }

  test("thresholds: serving at least as strict as training for shared requirements") {
    Registry.all.filter(_.workloads.size == 2).foreach { r =>
      assert(Thresholds.forReq(r.key, Workload.Serving) >=
        Thresholds.forReq(r.key, Workload.Training), r.key)
    }
  }
}
