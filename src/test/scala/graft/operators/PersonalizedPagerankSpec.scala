package graft.operators

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import graft.GraftSession
import graft.operators.graph.GraphOps

/** The parameterized personalized-PageRank operator (g13's core).
  *
  * - A ONE-NODE source set is single-source random-walk-with-restart:
  *   pinned bit-exact against an independent in-memory integer model
  *   of the rank map (collected edges, Scala Long arithmetic) — not
  *   against another Spark plan, so a shared plan bug can't hide.
  * - The DataFrame-source variant and the gated tag-predicate
  *   instance must agree bit-exactly with the generic predicate core
  *   (integer arithmetic: no tolerance anywhere).
  */
class PersonalizedPagerankSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq

  /** Independent model of the integer rank map over collected edges:
    * r0 = 1e6 on sources; each round r'(dst) = base(dst) +
    * 85 * Σ_{src→dst} (r(src) DIV deg(src)) DIV 100. */
  private def model(edges: Seq[(Long, Long, Long)], isSource: Long => Boolean,
      iters: Int): Map[Long, Long] = {
    val nodes = edges.map(_._1).distinct
    var r: Map[Long, Long] =
      nodes.map(n => n -> (if (isSource(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, d) => r(src) / d }.sum
      }
      r = contribs.map { case (dst, s) =>
        dst -> ((if (isSource(dst)) 150000L else 0L) + 85L * s / 100L)
      }
    }
    r
  }

  /** `iters` personalized rounds over `edges` from the source-set start. */
  private def personalized(edges: DataFrame, share: Column,
      isSource: Column => Column, iters: Int = 3): DataFrame =
    GraphOps.rankRounds(edges, share, GraphOps.onSources(isSource, GraphOps.TeleportMicros))(
      GraphOps.rankStart(edges, GraphOps.onSources(isSource, GraphOps.RankOne)), iters)
  private def ew = GraphOps.edgesWithDeg(spark, dir)
  private def wed = graft.operators.graph.GraphTables.weightedEdges(spark, dir)

  private lazy val edges: Seq[(Long, Long, Long)] =
    GraphOps.edgesWithDeg(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("one-node source set == single-source RWR (in-memory integer model)") {
    val s0 = edges.map(_._1).min
    val got = rows(personalized(ew, GraphOps.UniformShare, _ === s0, iters = 3))
    val want = model(edges, _ == s0, iters = 3).toSeq.sortBy(identity)
    assert(got == want)
  }

  test("tag-predicate source set matches the in-memory model too") {
    val got = rows(personalized(ew, GraphOps.UniformShare, n => n % 8 === 5))
    val want = model(edges, _ % 8 == 5, iters = 3).toSeq.sortBy(identity)
    assert(got == want)
  }

  test("DataFrame source set == predicate source set, bit-exact") {
    val srcDf = GraphOps.edgesWithDeg(spark, dir)
      .select(col("src").as("node_id")).distinct()
      .filter(col("node_id") % 8 === 5)
    val viaDf = rows(GraphOps.personalizedPagerankFrom(spark, dir, srcDf))
    val viaPred = rows(personalized(ew, GraphOps.UniformShare, n => n % 8 === 5))
    assert(viaDf == viaPred)
  }

  test("gated g13 instance == generic core with the tag predicate") {
    val gated = rows(GraphOps.g13PersonalizedPagerank(spark, dir))
    val generic = rows(personalized(ew, GraphOps.UniformShare, n => n % 8 === 5))
    assert(gated == generic)
  }

  test("empty source set: every rank is exactly zero (no teleport mass)") {
    val got = rows(personalized(ew, GraphOps.UniformShare, _ => org.apache.spark.sql.functions.lit(false)))
    assert(got.nonEmpty && got.forall(_._2 == 0L))
  }

  // ---- g16: the weighted × personalized composition ----

  test("g16 with unit weights == unweighted personalized (g13 core), bit-exact") {
    // w=1, wsum=deg makes the weighted round map r·1 DIV d = r DIV d —
    // the composition must collapse to g13's operator exactly
    val unitWed = ew.select(col("src"), col("dst"),
      org.apache.spark.sql.functions.lit(1L).as("w"), col("d").as("wsum"))
    val isSource = (n: Column) => n % 8 === 5
    val weighted = rows(personalized(unitWed, GraphOps.WeightedShare, isSource, 3))
    val unweighted = rows(personalized(ew, GraphOps.UniformShare, isSource, 3))
    assert(weighted == unweighted)
  }

  test("gated g16 == composable core over the weighted edge table") {
    val isSource = (n: Column) => n % 8 === 5
    val gated = rows(GraphOps.g16WeightedPersonalized(spark, dir))
    val generic = rows(personalized(wed, GraphOps.WeightedShare, isSource, 3))
    assert(gated == generic)
  }

  test("g16 relative-tolerance loop == the same number of unrolled rounds") {
    // the rankLoopUntilStop composition obeys the same loop ≡ unroll
    // law as g12/g14 (GraphWarmStartSpec's pattern): the converged
    // vector is bit-exactly k fixed rounds for the returned k
    val isSource = (n: Column) => n % 8 === 5
    val (df, k) = GraphOps.rankLoopUntilStop(
      GraphOps.rankStart(wed, GraphOps.onSources(isSource, GraphOps.RankOne)),
      GraphOps.rankRounds(wed, GraphOps.WeightedShare,
        GraphOps.onSources(isSource, GraphOps.TeleportMicros))(_, 1),
      GraphOps.relativeStop(200000L), maxIters = 200, minIters = 4)
    val unrolled = rows(personalized(wed, GraphOps.WeightedShare, isSource, k))
    assert(k >= 4 && rows(df) == unrolled)
  }
}
