package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins AbProbe's B-regime conf scope: after a B rep every key holds
  * exactly what it held before, so the next A rep measures the
  * session's own regime, not Spark's built-in default. */
class AbProbeSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(2, 2)

  test("a B rep restores each conf's exact prior value, unsetting only absent keys") {
    // GraftSession sets this key to false; Spark's default is true
    val set = "spark.sql.adaptive.coalescePartitions.enabled"
    val absent = "spark.graft.abprobe.spec.absent"
    assert(spark.conf.get(set) === "false")
    assert(spark.conf.getOption(absent).isEmpty)
    val inside = AbProbe.withConfs(spark, Seq(set -> "true", absent -> "1")) {
      (spark.conf.get(set), spark.conf.get(absent))
    }
    assert(inside === (("true", "1")))
    assert(spark.conf.get(set) === "false", "session value must survive the B rep")
    assert(spark.conf.getOption(absent).isEmpty, "an absent key must be unset again")
  }

  test("a throwing B rep still restores the confs") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    intercept[IllegalStateException] {
      AbProbe.withConfs(spark, Seq(key -> "7"))(throw new IllegalStateException("boom"))
    }
    assert(spark.conf.get(key) === before)
  }

  test("GRAFT_AB_CONF values may contain commas") {
    assert(AbProbe.parseConfs("a.b=1,c.d=x,y, e=2") ===
      Seq("a.b" -> "1", "c.d" -> "x,y", "e" -> "2"))
    assert(AbProbe.parseConfs("") === Seq.empty)
  }

  test("GRAFT_AB_CONF rejects an unknown spark.graft key and a non-numeric cap") {
    // an unknown key would be ignored, timing the default regime as both A and B
    val ok = "spark.graft.graph.broadcastCap=0,spark.graft.checkpointDir=/tmp/x,a.b=1"
    assert(AbProbe.parseConfs(ok).size === 3)
    Seq("spark.graft.loop.aqe=true", "spark.graft.scc.trimAdjProbeCap=0",
        "spark.graft.graph.driverNodeCap=4M").foreach { bad =>
      val err = intercept[IllegalArgumentException](AbProbe.parseConfs(s"a.b=1,$bad"))
      assert(err.getMessage.contains(bad.takeWhile(_ != '=')), err.getMessage)
    }
  }
}
