package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** The bench never times a failure: a query that throws, while planning or
  * while running, is recorded by name, kept out of the timings, and turns
  * the run's load class to "failed".
  */
class BenchSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("an injected failing query is recorded by name, not timed") {
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "a_ok" -> ((s, _) => s.range(5).toDF()),
      "b_throws_when_built" -> ((_, _) => throw new IllegalStateException("injected")),
      // a filter: the bench's count() would prune a failing projection
      "c_fails_when_run" -> ((s, _) => s.range(1).toDF().where(raise_error(lit("injected")).isNull)),
      "d_ok" -> ((s, _) => s.range(3).toDF()))
    var samples = 0
    val pass = Bench.runPass(spark, "unused", qs, () => { samples += 1; graft.tools.Canaries.Canary(1, 1, 1) })
    assert(pass.timed.map(_._1) == Seq("a_ok", "d_ok"))
    assert(pass.failed.map(_._1) == Seq("b_throws_when_built", "c_fails_when_run"))
    assert(pass.failed.forall(_._2.contains("injected")), pass.failed)
    assert(samples == 2) // the window canaries at the start and the end
    assert(Bench.loadClass(pass.failed.map(_._1), Nil, Nil) == "failed")
    // a failure outranks every load verdict; without one they stand as before
    assert(Bench.loadClass(Seq("q"), Seq("throttled_q"), Seq("pass_spread_gt_1.6")) == "failed")
    assert(Bench.loadClass(Nil, Seq("throttled_q"), Nil) == "loaded")
    assert(Bench.loadClass(Nil, Nil, Seq("pass_spread_gt_1.6")) == "suspect")
    assert(Bench.loadClass(Nil, Nil, Nil) == "clean")
  }
}
