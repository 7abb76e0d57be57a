package graft.util

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the data-driven loop-AQE policy (r13 verdict #9): rounds run
  * AQE-quiet unless the per-round row estimate reaches
  * `Loops.AutoRowThreshold`; and the reentrancy contract (r13 advisor
  * note): in nested scopes the outermost scope's policy wins; and
  * `memoRows`, which reads a loaded cache's row count without a job. */
class LoopsSpec extends AnyFunSuite {
  private lazy val spark = graft.GraftSession.local(2, 2)
  private val key = "spark.sql.adaptive.enabled"

  private def aqeInside(rows: Long): String = Loops.quiet(spark, rows) { spark.conf.get(key) }

  test("auto: small loops run quiet, at-threshold loops keep AQE") {
    spark.conf.set(key, "true")
    assert(aqeInside(1000L) === "false",
      "a gate-scale loop must run AQE-quiet (the measured-fastest regime)")
    assert(aqeInside(Loops.AutoRowThreshold) === "true",
      "a threshold-sized loop must keep AQE for runtime skew splitting")
    assert(aqeInside(-1L) === "false",
      "an unknown estimate is treated as small (the pre-r14 behavior)")
    assert(spark.conf.get(key) === "true", "AQE must be restored after the scope")
  }

  test("nested quiet scopes: only the outermost restores (advisor r13)") {
    spark.conf.set(key, "true")
    Loops.quiet(spark, 1L) {
      assert(spark.conf.get(key) === "false")
      Loops.quiet(spark, 1L) { assert(spark.conf.get(key) === "false") }
      // the INNER scope exiting must not re-enable AQE mid-loop
      assert(spark.conf.get(key) === "false",
        "a nested scope's exit re-enabled AQE inside the outer loop")
      // the outermost scope's policy wins: a threshold-sized inner
      // loop inside a quiet outer one stays quiet
      Loops.quiet(spark, Loops.AutoRowThreshold) {
        assert(spark.conf.get(key) === "false", "a big inner scope turned AQE back on")
      }
      assert(spark.conf.get(key) === "false")
    }
    assert(spark.conf.get(key) === "true", "outermost exit must restore")
    // and the reverse: a small inner loop inside an adaptive outer one
    Loops.quiet(spark, Loops.AutoRowThreshold) {
      Loops.quiet(spark, 1L) {
        assert(spark.conf.get(key) === "true", "a small inner scope turned AQE off")
      }
    }
    assert(spark.conf.get(key) === "true")
  }

  // `end` keeps the plans distinct: Spark shares one cache between equal plans
  private def cachedRange(name: String, end: Long): DataFrame =
    DfCache.cached(spark, "/loopsspec", name)(spark.range(0, end, 1, 4).filter("id % 3 = 0").toDF())

  test("memoRows of a counted cache entry reads the cache's row count with no job") {
    val df = cachedRange("counted", 1000)
    val n = df.count()
    val (jobs, rows) = graft.SpecJobs.runBy(spark)(Loops.memoRows(df))
    assert(jobs == 0, s"memoRows over a loaded cache ran $jobs jobs")
    assert(rows == n && n == 334L)
  }

  test("memoRows of a cache entry not yet loaded counts it") {
    val df = cachedRange("unloaded", 2000)
    val (jobs, rows) = graft.SpecJobs.runBy(spark)(Loops.memoRows(df))
    assert(jobs >= 1, "an unloaded entry must be counted")
    assert(rows == df.count())
  }

  test("memoRows counts once and memoizes per DataFrame") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("x")
    assert(Loops.memoRows(df) === 3L)
    assert(Loops.memoRows(df) === 3L) // memo hit — no second job observable here,
                                      // but the value must be stable
  }
}
