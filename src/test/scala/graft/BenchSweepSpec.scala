package graft

import org.apache.spark.sql.functions._
import graft.queries.OpQuery

/** A query that throws must never read as a fast query: its outcome is
  * the error message, never a time (so it stays out of `queries` and the
  * total), and its remaining reps are not run. */
class BenchSweepSpec extends SparkSuite {

  test("a throwing query lands in errors, never in the timings") {
    val good = OpQuery.rowsOnly("good")((s, _) => s.range(100).toDF())
    // throws while the plan is built, before any Spark job: the shape
    // that used to record a near-zero time
    val early = OpQuery.rowsOnly("bad_early") { (_, _) =>
      throw new IllegalStateException("boom \"quoted\"\n" + "x" * 1000)
    }
    // throws inside a task, after the job started
    val late = OpQuery.rowsOnly("bad_late")(
      (s, _) => s.range(3).select(raise_error(lit("late failure"))))
    var reps = 0
    val outcomes = Seq(early, good, late).map(q =>
      q.name -> Bench.timeQuery(spark, q, "unused", 2, () => reps += 1)).toMap

    assert(outcomes("good").exists(_ > 0))
    val errors = outcomes.collect { case (n, Left(e)) => n -> e }
    assert(errors.keySet == Set("bad_early", "bad_late"))
    assert(errors("bad_early").startsWith("java.lang.IllegalStateException: boom"))
    assert(errors("bad_late").contains("late failure"))
    assert(errors.values.forall(_.length <= 300))
    // two reps for the good query, one each for the failed ones
    assert(reps == 4)

    // the messages survive into the artifact as valid JSON strings
    val js = Bench.jsonString(errors("bad_early"))
    assert(js.startsWith("\"") && js.endsWith("\""))
    assert(!js.contains("\n"))
    assert(js.contains("\\\"quoted\\\"") && js.contains("\\u000a"))
  }
}
