package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.operators.graph.GraphOps

/** The stop-checked rank loop's contract on a hand-fed directed graph,
  * 1 → 2 ⇄ 3 ⇄ 4, in which node 1 has no in-edge: the loop's vector is
  * k unrolled rounds, its stop delta spans only the nodes present in
  * both rounds, and node 1 drops out after round 1. */
class RankLoopSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(threads = 2, shufflePartitions = 2)

  override def afterAll(): Unit = spark.stop()

  // (src, dst, out-degree of src)
  private lazy val edges: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 2L, 2L), (3L, 4L, 2L), (4L, 3L, 1L))
      .toDF("src", "dst", "d")
  }

  private def rounds(start: DataFrame, iters: Int): DataFrame =
    GraphOps.rankRounds(edges, GraphOps.UniformShare,
      GraphOps.everywhere(GraphOps.TeleportMicros))(start, iters)

  private def start: DataFrame =
    GraphOps.rankStart(edges, GraphOps.everywhere(GraphOps.RankOne))

  private def loop(tolMicros: Long): (DataFrame, Int) =
    GraphOps.rankLoopUntilStop(start, rounds(_, 1),
      GraphOps.StopRule(s"|delta| <= $tolMicros", (mxDelta, _) => mxDelta <= tolMicros),
      maxIters = 200, minIters = 1)

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("stop-checked loop == the same number of rounds; a node with no in-edge drops out") {
    assert(ranks(start).keySet == Set(1L, 2L, 3L, 4L))
    val (v, k) = loop(10000L)
    assert(k > 1)
    val unrolled = ranks(rounds(start, k))
    assert(ranks(v) == unrolled)
    assert(unrolled.keySet == Set(2L, 3L, 4L))
    // round 1 moves nodes 2, 3, 4 by 425000, 850000, 425000; node 1
    // leaves with rank 1.0. A delta over nodes in both rounds is met
    // by a tolerance of 850000 at round 1.
    val (v1, k1) = loop(850000L)
    assert(k1 == 1)
    assert(ranks(v1) == Map(2L -> 1425000L, 3L -> 1850000L, 4L -> 575000L))
  }
}
