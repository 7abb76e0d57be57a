package graft.util

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.graph.GraphOps

/** Pins the size-gate registry: the seven `spark.graft.*` keys, their
  * defaults, and the one error a bad cap value raises at its read. */
class RegimesSpec extends AnyFunSuite {
  private lazy val spark = graft.GraftSession.local(2, 2)

  test("six gates plus the checkpoint dir, each default as shipped") {
    assert(Regimes.gates.map(g => g.key.stripPrefix("spark.graft.") -> g.default) === Seq(
      "graph.broadcastCap" -> 8000000L, "graph.driverNodeCap" -> 4000000L,
      "graph.driverEdgeCap" -> 16000000L, "truss.deltaWaveCap" -> 1024L,
      "truss.memCkptCap" -> 16000000L, "truss.deltaDecBroadcastCap" -> 1000000L))
    assert((Regimes.gates.map(_.key) :+ Regimes.CheckpointDir).distinct.size === 7)
  }

  test("a non-numeric cap fails at its read, naming the key and the value") {
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val key = Regimes.GraphBroadcastCap.key
    val err = intercept[IllegalArgumentException] {
      graft.AbProbe.withConfs(spark, Seq(key -> "8M"))(GraphOps.kcorePeel(sym, 1, 1))
    }
    assert(err.getMessage.contains(s"$key=8M"), err.getMessage)
  }
}
