package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ForcedRegimes.{agree, overCap}
import graft.util.Regimes

/** Round-12 hardening pin ([[ForcedRegimes]]): g33's delta rounds
  * gained a `deltaDecBroadcastCap` gate (the r11 ADVICE hole: `dec`
  * scales with Σ deg(wave endpoints), not the wave cap, so the
  * unconditional broadcast could blow the driver at 100 TB). Forcing
  * the cap to 0 routes the decrement through a shuffle join; the
  * trajectory must be identical.
  */
class Round12PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = GraftSession.local(threads = 8, shufflePartitions = 8)

  override def afterAll(): Unit = spark.stop()

  test("g33: shuffle-joined decrement ≡ broadcast decrement trajectory") {
    agree(spark, "g33", overCap(Regimes.TrussDeltaDecBroadcastCap)) {
      SparkEntry.queries("g33_ktruss")(spark, dir)
    }
  }
}
