package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.graph.GraphOps
import graft.util.Regimes

/** Laws for the g45/g46 batch.
  *
  * g45 SCC: (1) on hand graphs with known SCC structure (a
  * self-loop, duplicated edges, a cycle entered past its min member,
  * an all-DAG graph), sccOf must equal the textbook answer on both the
  * driver Tarjan and the distributed FW-BW path — pinning the FW-BW
  * definition (SCC of a pivot = forward-reach ∩ backward-reach) and
  * the min-member id; (2) at sf0.001 the full
  * output must equal an independent in-memory Kosaraju run over the
  * collected edge list (a third algorithm, after Spark's trim+FW-BW
  * and the oracle's recursive closure).
  *
  * g46 Borůvka: the lexicographic total order makes the MSF unique,
  * so the gated edge set must equal an independent in-memory Kruskal
  * with union-find at sf0.001, and must be cycle-free and spanning
  * (|forest| = |V| − |components|).
  */
class Round39OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = graft.GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  test("g45: sccOf on a hand graph equals forward∩backward reach") {
    import spark.implicits._
    // the definitional cross-check: u's scc id is the least v with
    // u == v or u reaching v AND v reaching u; each graph also runs
    // with the driver caps at 0, through the distributed FW-BW
    def sccAgreesWithReach(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def reach(s: Long): Set[Long] = {
        var seen = Set.empty[Long]
        var f = List(s)
        while (f.nonEmpty) {
          val n = f.head; f = f.tail
          adj.getOrElse(n, Nil).foreach { m =>
            if (!seen(m)) { seen += m; f ::= m } }
        }
        seen
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val reaches = nodes.map(u => u -> reach(u)).toMap
      val want = nodes.map(u =>
        u -> nodes.filter(v => u == v || (reaches(u)(v) && reaches(v)(u))).min).toMap
      val overCap = Seq(Regimes.DriverNodeCap, Regimes.DriverEdgeCap).map(_.key -> "0")
      Seq("driver" -> Nil, "over-cap" -> overCap).foreach { case (path, confs) =>
        val got = graft.AbProbe.withConfs(spark, confs)(GraphOps.sccOf(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        assert(got == want, s"$path path on $edges")
      }
      want
    }
    // 1→2→3→1 (SCC {1,2,3}), 3→4, 4→5→6→5 (SCC {5,6}), 4 and 7
    // singletons, 7→1 (an in-edge to a cycle, stays singleton)
    assert(sccAgreesWithReach(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (7L, 1L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // 8's only edge is a self-loop: it survives the trim and is its own SCC
    assert(sccAgreesWithReach(Seq((1L, 2L), (2L, 1L), (8L, 8L)))(8L) == 8L)
    // a duplicated cycle edge and a duplicated edge into the sink 3,
    // whose death takes both copies off 2's out-degree
    assert(sccAgreesWithReach(Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L)))
      == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // Tarjan roots at 1 and enters the cycle {20, 30, 40} at 30, so
    // the cycle's min member 20 is not its first visited node
    assert(sccAgreesWithReach(Seq((1L, 2L), (2L, 1L), (2L, 30L), (30L, 40L),
      (40L, 20L), (20L, 30L))) == Map(1L -> 1L, 2L -> 1L, 20L -> 20L, 30L -> 20L, 40L -> 20L))
    // an all-DAG graph: the trim empties the core, so no core path runs
    assert(sccAgreesWithReach(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
      .forall { case (u, id) => u == id })
  }

  test("g45: gated output equals an in-memory Kosaraju at sf0.001") {
    val es = GraphOps.sccEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val fwd = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val bwd = es.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    // pass 1: iterative DFS finish order on the forward graph
    val visited = scala.collection.mutable.Set.empty[Long]
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (s <- nodes if !visited(s)) {
      // explicit stack of (node, remaining children)
      val stack = scala.collection.mutable.Stack((s, fwd.getOrElse(s, Array.empty[Long]).iterator))
      visited += s
      while (stack.nonEmpty) {
        val (n, it) = stack.top
        val nxt = it.find(!visited(_))
        nxt match {
          case Some(m) =>
            visited += m
            stack.push((m, fwd.getOrElse(m, Array.empty[Long]).iterator))
          case None =>
            order += n
            stack.pop()
        }
      }
    }
    // pass 2: reverse-graph DFS in reverse finish order
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    for (s <- order.reverseIterator if !comp.contains(s)) {
      val members = scala.collection.mutable.ArrayBuffer(s)
      comp(s) = s
      var f = List(s)
      while (f.nonEmpty) {
        val n = f.head; f = f.tail
        bwd.getOrElse(n, Array.empty[Long]).foreach { m =>
          if (!comp.contains(m)) { comp(m) = s; members += m; f ::= m } }
      }
      // normalize scc id to min member (the gated convention)
      val mn = members.min
      members.foreach(comp(_) = mn)
    }
    val got = GraphOps.g45Scc(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == nodes.length)
    nodes.foreach(n => assert(got(n) == comp(n), s"node $n"))
    // sanity: the synthetic back-edges create at least one non-trivial SCC
    assert(got.exists { case (n, s) => n != s })
  }

  test("g46: gated forest equals an in-memory Kruskal at sf0.001") {
    val es = GraphOps.mstCostEdges(spark, dir)
      .filter(col("src") < col("dst"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val nodes = (es.map(_._2) ++ es.map(_._3)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    val kruskal = es.flatMap { case (c, u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru == rv) None else { parent(ru) = rv; Some((u, v, c)) }
    }.toSet
    val got = GraphOps.g46Boruvka(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == kruskal)
    // spanning: |forest| = |V| − |components of the weighted graph|
    val nComp = nodes.map(find).distinct.size
    assert(got.size == nodes.length - nComp)
  }
}
