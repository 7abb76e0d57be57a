package graft.operators

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.operators.graph.GraphOps

/** Warm-start (checkpoint-resume) semantics for the iterative graph
  * algorithms: resuming from a round-k1 checkpoint and running k2 more
  * rounds must be BIT-EXACT equal to running k1+k2 rounds from scratch
  * (the reference's AnalysisRound restore, Runner.java:68 storeRound /
  * ArrayStore.java:27 readIn). Integer micro-unit arithmetic makes
  * this exact — no float drift to hide behind. */
class GraphWarmStartSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq

  test("pagerank: resume(k1 checkpoint) + k2 rounds == k1+k2 rounds from scratch") {
    val k1 = 2
    val k2 = 3
    // round-trip the k1 vector through parquet — a real checkpoint, not
    // a cached in-memory handle
    val ckptPath = s"${System.getProperty("java.io.tmpdir")}/graft_warmstart_spec_pr"
    GraphOps.pagerank(spark, dir, iters = k1)
      .write.mode("overwrite").parquet(ckptPath)
    val resumed = GraphOps.pagerankFrom(spark, dir,
      spark.read.parquet(ckptPath), iters = k2)
    val scratch = GraphOps.pagerank(spark, dir, iters = k1 + k2)
    assert(rows(resumed) == rows(scratch))
  }

  test("components: converged run warm-started from 3-round labels == from scratch") {
    val threeRounds = GraphOps.g10Components(spark, dir)
    val resumed = GraphOps.componentsConverged(spark, dir, Some(threeRounds))
    val scratch = GraphOps.componentsConverged(spark, dir)
    assert(rows(resumed) == rows(scratch))
  }

  test("components: warm start from a PARTIAL checkpoint (grown graph) is still exact") {
    import org.apache.spark.sql.functions.col
    // checkpoint covers only half the nodes — the grown-graph resume:
    // nodes that appeared since the checkpoint restart from their own
    // id and must still converge to the true component minimum
    val partial = GraphOps.g10Components(spark, dir)
      .filter(col("node_id") % 2 === 0)
    val resumed = GraphOps.componentsConverged(spark, dir, Some(partial))
    val scratch = GraphOps.componentsConverged(spark, dir)
    assert(rows(resumed) == rows(scratch))
  }

  test("pagerank-until-delta: stops at the tolerance and equals the same fixed rounds") {
    // generous tolerance at sf0.001 so the spec stays fast; the decay
    // rate (~damping/round) is scale-independent
    val (df, rounds) = GraphOps.pagerankUntilDelta(spark, dir, tolMicros = 200000L)
    assert(rounds > 1, "must take multiple rounds from the uniform vector")
    assert(rows(df) == rows(GraphOps.pagerank(spark, dir, iters = rounds)),
      "tolerance loop must be bit-exact with the same number of fixed rounds")
  }

  test("pagerank-until-delta: minIters floors the stop check (non-monotone early delta)") {
    // a tolerance this loose is met at round 1 from the uniform vector
    // (the delta only spikes at round 2) — the floor must carry the
    // loop past the spurious early stop
    val (df, rounds) = GraphOps.pagerankUntilDelta(
      spark, dir, tolMicros = 999999999L, minIters = 4)
    assert(rounds == 4, s"floor of 4 rounds expected, got $rounds")
    assert(rows(df) == rows(GraphOps.pagerank(spark, dir, iters = 4)))
  }

  test("pagerank-for-budget: rounds reproducible via fixed loop, resumable across budgets") {
    // the wall-clock mode's determinism contract: the ROUND COUNT is
    // host-dependent, but (a) re-running that count fixed is bit-exact
    // and (b) two consecutive budget runs chain exactly like one
    val (v1, k1) = GraphOps.pagerankForBudget(spark, dir, budgetMillis = 1500L)
    assert(k1 >= 1, "a budget run always completes at least one round")
    assert(rows(v1) == rows(GraphOps.pagerank(spark, dir, iters = k1)),
      "budget run must equal the same number of fixed rounds, bit-exact")
    val (v2, k2) = GraphOps.pagerankForBudget(spark, dir, budgetMillis = 1L,
      start = Some(v1))
    assert(rows(v2) == rows(GraphOps.pagerank(spark, dir, iters = k1 + k2)),
      "resuming a budget run from its output must chain bit-exact")
  }

  test("g9: checkpoint root honors spark.graft.checkpointDir") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_root").toString
    graft.AbProbe.withConfs(spark, Seq(graft.util.Regimes.CheckpointDir -> root)) {
      val out = GraphOps.g9CheckpointRoundtrip(spark, dir)
      assert(rows(out) == rows(GraphOps.pagerank(spark, dir)))
      val dirKey = dir.replaceAll("[^A-Za-z0-9]", "_")
      assert(new java.io.File(s"$root/graft_ckpt_g9_$dirKey").exists(),
        "checkpoint must land under the configured root")
    }
  }

  test("q23 KMV: plan is a partial object aggregate, not a global distinct+sort") {
    val df = graft.SparkEntry.queries("q23_kmv_sketch")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "KMV must run as a mergeable object aggregate")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      "partial + final KMV buffers expected (map-side k-min combine)")
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "),
      "no sort of the distinct hash stream may remain")
  }
}
