package graft.ext

import graft.SparkTestBase

class MaterializeSpec extends SparkTestBase {

  test("fixpoint stops on the first zero-count round, or at maxRounds unconverged") {
    val counts = Iterator(3L, 1L, 0L, 5L)
    var calls = 0
    val (state, converged) = Materialize.fixpoint(0, maxRounds = 10) { s =>
      calls += 1; (s + 1, counts.next())
    }
    assert((state, converged, calls) === ((3, true, 3)))
    calls = 0
    val (capped, done) = Materialize.fixpoint(0, maxRounds = 4) { s => calls += 1; (s + 1, 1L) }
    assert((capped, done, calls) === ((4, false, 4)))
    intercept[IllegalArgumentException](Materialize.fixpoint(0, maxRounds = 0)(s => (s, 0L)))
  }

  test("fixpoint runs one Spark job per round when the count materializes the fence") {
    val sc = spark.sparkContext
    // each round drops 0 and shifts the rest down: {0,1,2} empties in 3
    def round(r: org.apache.spark.rdd.RDD[Long]) = {
      val next = Materialize.rdd(r.filter(_ > 0L).map(_ - 1L))
      (next, next.count())
    }
    val ((out, converged), jobs) =
      jobsOf(Materialize.fixpoint(sc.parallelize(0L until 3L, 2), maxRounds = 5)(round))
    assert(converged && out.isEmpty())
    assert(jobs.size === 3, s"${jobs.size} jobs")
    val ((_, capped), cappedJobs) =
      jobsOf(Materialize.fixpoint(sc.parallelize(0L until 3L, 2), maxRounds = 2)(round))
    assert(!capped && cappedJobs.size === 2, s"${cappedJobs.size} jobs")
  }
}
