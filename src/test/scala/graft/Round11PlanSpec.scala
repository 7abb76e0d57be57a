package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ForcedRegimes.bothPathsAgree
import graft.util.Regimes

/** Round-11 hardening pins: the three driver-side hybrid operators
  * (g40 pseudo-diameter, g45 SCC, g46 Borůvka) each have a bounded
  * driver fast path and a distributed over-cap path. At gate scale
  * the driver path always wins, so without these tests the
  * distributed branch — the ONLY branch that exists at 100 TB —
  * would ship untested. Forcing the shared driver caps
  * (`Regimes.DriverNodeCap` / `DriverEdgeCap`) to 0 routes the SAME
  * gated entry point through the distributed branch, and result
  * equality with the default (oracle-gated) path transitively
  * hash-gates that branch ([[ForcedRegimes]]). */
class Round11PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = GraftSession.local(threads = 8, shufflePartitions = 8)

  override def afterAll(): Unit = spark.stop()

  test("g40: forced over-cap distributed double sweep ≡ driver CSR fast path") {
    bothPathsAgree(spark, dir, "g40_pseudo_diameter",
      Regimes.DriverNodeCap, Regimes.DriverEdgeCap)
  }

  test("g45: forced over-cap distributed FW-BW ≡ driver Tarjan fast path") {
    bothPathsAgree(spark, dir, "g45_scc", Regimes.DriverNodeCap, Regimes.DriverEdgeCap)
  }

  test("g46: forced over-cap distributed contraction ≡ driver union-find") {
    bothPathsAgree(spark, dir, "g46_boruvka", Regimes.DriverNodeCap)
  }

  test("g33: tiny-wave delta rounds ≡ full re-enumeration trajectory") {
    // default path takes the wave-anchored DELTA rounds after round 1;
    // cap 0 forces every round through the full oriented enumeration
    bothPathsAgree(spark, dir, "g33_ktruss", Regimes.TrussDeltaWaveCap)
  }
}
