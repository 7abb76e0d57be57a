package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ForcedRegimes.{agree, bothPathsAgree, overCap}
import graft.operators.graph.GraphOps
import graft.util.Regimes

/** Round-14 optimization pins ([[ForcedRegimes]]): each size-gated
  * fast regime added this round against its over-cap branch, so a
  * regression in either shows here, not only as an oracle mismatch.
  *
  *  - `Regimes.GraphBroadcastCap` (r14): kcorePeel's explicit
  *    alive-set broadcast + quiet lazy rounds vs the per-round-AQE
  *    shuffle regime (g20/g35), and the BFS kernel's broadcast CSR vs
  *    its per-hop shuffle hops (g6/g18/g27/g40 and hand-fed seeds).
  *  - `Regimes.TrussMemCkptCap` (r14): g33's in-memory lazy round
  *    checkpoints vs the sf10 parquet-per-round discipline.
  */
class Round14PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = GraftSession.local(threads = 8, shufflePartitions = 8)

  override def afterAll(): Unit = spark.stop()

  test("g20: broadcast-membership quiet peel ≡ per-round-AQE shuffle peel") {
    bothPathsAgree(spark, dir, "g20_kcore", Regimes.GraphBroadcastCap)
  }

  test("g35: all three broadcast rungs ≡ the shuffle-regime ladder") {
    bothPathsAgree(spark, dir, "g35_coreness", Regimes.GraphBroadcastCap)
  }

  // bfsLevels: the broadcast-CSR kernel vs the per-hop shuffle hops.
  // The shuffle levels are DfCache'd and the CSR is a DfCache-owned
  // broadcast, so evict before each run: each regime rebuilds its state.
  private def bothRegimesAgree(name: String)(run: => DataFrame): Seq[Seq[Any]] =
    try agree(spark, name, overCap(Regimes.GraphBroadcastCap)) {
      graft.util.DfCache.evict(spark)
      run
    } finally graft.util.DfCache.evict(spark)

  Seq("g6" -> "g6_bfs_khop", "g18" -> "g18_harmonic", "g27" -> "g27_reach_profile")
    .foreach { case (tag, q) =>
      test(s"$tag: CSR kernel ≡ per-hop shuffle hops") {
        bothRegimesAgree(tag)(SparkEntry.queries(q)(spark, dir))
      }
    }

  test("g40 sweep: CSR kernel ≡ per-hop shuffle hops") {
    bothRegimesAgree("g40")(GraphOps.g40Distributed(spark, dir))
  }

  test("bfsLevels hand-fed seeds: CSR kernel ≡ per-hop shuffle hops") {
    // two tags; tag 1 repeats region node 5 and seeds 7, which no sym
    // edge touches (type tag 7 does not exist); tag 2 seeds a null node
    val seeds = Seq((1L, Some(5L)), (1L, Some(5L)), (1L, Some(7L)), (2L, None), (2L, Some(13L)))
    import spark.implicits._
    val rows = bothRegimesAgree("hand-fed") {
      GraphOps.bfsLevels(spark, dir, "hand_fed", 3)(seeds.toDF("tag", "node"))
        .orderBy(col("tag"), col("node"), col("dist"))
    }
    val level0 = rows.filter(_(2) == 0).map(r => (r(0), Option(r(1))))
    assert(level0.sortBy(_.toString) === seeds.sortBy(_.toString),
      "every seed row must come out as a level-0 row exactly as given")
    assert(rows.count(r => r(0) == 1L && r(2) == 1) > 0, "tag 1 reached no neighbour")
    assert(!rows.exists(r => r(1) == null && r(2) != 0), "a null node was expanded")
    assert(rows.map(_(2).asInstanceOf[Int]).max == 3, "depth 3 not reached")
  }

  test("g33: in-memory lazy round checkpoints ≡ parquet round discipline") {
    bothPathsAgree(spark, dir, "g33_ktruss", Regimes.TrussMemCkptCap)
  }
}
