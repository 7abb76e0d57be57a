package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ForcedRegimes.{agree, overCap}
import graft.util.Regimes

/** Round-12 hardening pins ([[ForcedRegimes]]):
  *
  *  - g45's trim gained an adjacency-PROBE path for small waves
  *    (V-row probe + Σ deg(dead) explode instead of 2 E-row scans per
  *    round) with a mega-hub edge-scan fallback. Three routings must
  *    agree: default (probe engages at gate scale), probe disabled
  *    (`trimAdjProbeCap=0` ⇒ the old edge-scan rounds), and hub cap
  *    forced to 1 (`trimHubDegCap=1` ⇒ every node excluded from the
  *    adjacency ⇒ every wave routes through the dead-hub fallback).
  *
  *  - g33's delta rounds gained a `deltaDecBroadcastCap` gate (the
  *    r11 ADVICE hole: `dec` scales with Σ deg(wave endpoints), not
  *    the wave cap, so the unconditional broadcast could blow the
  *    driver at 100 TB). Forcing the cap to 0 routes the decrement
  *    through a shuffle join; the trajectory must be identical.
  */
class Round12PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = GraftSession.local(threads = 8, shufflePartitions = 8)

  override def afterAll(): Unit = spark.stop()

  test("g45: trim adjacency-probe ≡ edge-scan ≡ all-hub fallback") {
    // trimProbeAfter=0 FORCES the probe to build on the first small
    // wave — the default streak gate (2) means short gate-scale trims
    // never engage it, which would leave the probe branch untested
    val probed = overCap(Regimes.SccTrimProbeAfter)
    agree(spark, "g45", probed, probed :+ (Regimes.SccTrimHubDegCap -> 1L)) {
      SparkEntry.queries("g45_scc")(spark, dir)
    }
  }

  test("g33: shuffle-joined decrement ≡ broadcast decrement trajectory") {
    agree(spark, "g33", overCap(Regimes.TrussDeltaDecBroadcastCap)) {
      SparkEntry.queries("g33_ktruss")(spark, dir)
    }
  }
}
