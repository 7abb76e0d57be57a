package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.operators.graph.GraphOps

/** The min-relaxation loop's contract on hand-fed graphs: its round
  * count and its vector at every round equal the synchronous round's
  * (node set included), `lbl + cost` is Bellman–Ford, and seeding only
  * the nodes that can lower anything changes nothing. */
class MinLabelLoopSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(threads = 2, shufflePartitions = 2)
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def labels(out: DataFrame): Map[Long, Long] =
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** k synchronous rounds in plain Scala over (src, dst, cost) edges:
    * every node present offers its value plus the cost over every
    * out-edge, and a node first reached as a dst joins. */
  private def synchronous(edges: Seq[(Long, Long, Long)], start: Map[Long, Long],
      k: Int): Map[Long, Long] =
    (1 to k).foldLeft(start) { (l, _) =>
      val offers = edges.collect { case (u, v, c) if l.contains(u) => v -> (l(u) + c) }
      (l.toSeq ++ offers).groupMapReduce(_._1)(_._2)(math.min)
    }

  test("path graph: converges in exactly the synchronous 7 rounds") {
    val edges = (0L until 6L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    val start = (0L to 6L).map(n => (n, n)).toDF("node", "lbl")
    def run(iters: Int) =
      labels(GraphOps.minLabelFixpoint(edges, start, maxIters = iters, mustConverge = true))
    intercept[IllegalStateException](run(6))
    assert(run(7) == (0L to 6L).map(_ -> 0L).toMap)
  }

  test("k rounds equal k synchronous rounds, dst-only nodes included") {
    // 7 and 8 are reached only as dsts (not in start) and propagate on;
    // 9 is an isolated start node
    val es = Seq((3L, 2L), (2L, 1L), (1L, 7L), (7L, 8L), (8L, 1L), (4L, 3L))
    val st = Map(1L -> 5L, 2L -> 3L, 3L -> 1L, 4L -> 6L, 9L -> 0L)
    def model(k: Int) = synchronous(es.map { case (u, v) => (u, v, 0L) }, st, k)
    def run(k: Int, converge: Boolean) = labels(GraphOps.minLabelFixpoint(
      es.toDF("src", "dst"), st.toSeq.toDF("node", "lbl"), maxIters = k, mustConverge = converge))
    (1 to 4).foreach(k => assert(run(k, converge = false) == model(k), s"round $k"))
    assert(model(4) != model(3) && model(5) == model(4))
    assert(run(5, converge = true) == model(5))
  }

  test("lbl + cost hop is Bellman-Ford; unreachable nodes absent") {
    val es = Seq((1L, 2L, 4L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 5L),
      (3L, 4L, 10L), (4L, 5L, 1L), (6L, 1L, 1L))
    val got = labels(GraphOps.minLabelFixpoint(es.toDF("src", "dst", "cost"),
      Seq((1L, 0L)).toDF("node", "lbl"), hop = col("lbl") + col("cost"),
      maxIters = 10, mustConverge = true))
    // |V| - 1 synchronous rounds are the Bellman–Ford fixpoint
    assert(got == synchronous(es, Map(1L -> 0L), 5))
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("pivot-only seeding gives the labels of seeding every node") {
    // mark-phase shape: pivots 1 and 4 hold 0, the rest 1; 7 reaches a
    // pivot but no pivot reaches 7
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 4L), (6L, 5L), (3L, 6L), (7L, 1L))
      .toDF("src", "dst")
    val start = (1L to 7L).map(n => (n, if (n == 1L || n == 4L) 0L else 1L)).toDF("node", "lbl")
    def run(seedIf: Column, k: Int, converge: Boolean) = labels(GraphOps.minLabelFixpoint(
      edges, start, seedIf = seedIf, maxIters = k, mustConverge = converge))
    (1 to 3).foreach { k =>
      assert(run(col("lbl") === 0L, k, converge = false) == run(lit(true), k, converge = false))
    }
    val pivots = run(col("lbl") === 0L, 10, converge = true)
    assert(pivots == run(lit(true), 10, converge = true))
    assert(pivots == (1L to 7L).map(n => n -> (if (n == 7L) 1L else 0L)).toMap)
  }
}
