package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.graph.GraphOps

/** Round-14 optimization pins: the broadcast/in-memory fast regimes
  * added this round are size-gated behind confs, and at gate scale the
  * fast regime always wins — so without these tests the over-cap
  * branch (the ONLY branch that exists at 100 TB) would ship untested,
  * and vice versa a regression in the new fast branch would only show
  * as an oracle mismatch. Forcing each cap to 0 routes the SAME gated
  * entry point through the over-cap branch; result equality with the
  * default path transitively hash-gates both (the Round11PlanSpec
  * convention).
  *
  *  - `spark.graft.graph.broadcastCap` (r14): kcorePeel's explicit
  *    alive-set broadcast + quiet lazy rounds vs the per-round-AQE
  *    shuffle regime (g20/g35), and the BFS kernel's broadcast CSR vs
  *    its per-hop shuffle hops (g6/g18/g27/g40 and hand-fed seeds).
  *  - `spark.graft.truss.memCkptCap` (r14): g33's in-memory lazy round
  *    checkpoints vs the sf10 parquet-per-round discipline.
  */
class Round14PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = GraftSession.local(threads = 8, shufflePartitions = 8)

  override def afterAll(): Unit = spark.stop()

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def bothPathsAgree(query: String, caps: Seq[String]): Unit = {
    val fast = rowsOf(SparkEntry.queries(query)(spark, dir))
    caps.foreach(k => spark.conf.set(k, "0"))
    try {
      val over = rowsOf(SparkEntry.queries(query)(spark, dir))
      assert(fast.size == over.size,
        s"$query: row count diverged fast=${fast.size} over-cap=${over.size}")
      fast.zip(over).zipWithIndex.foreach { case ((f, d), i) =>
        assert(f == d, s"$query row $i diverged: fast=$f over-cap=$d")
      }
    } finally caps.foreach(spark.conf.unset)
  }

  test("g20: broadcast-membership quiet peel ≡ per-round-AQE shuffle peel") {
    bothPathsAgree("g20_kcore", Seq("spark.graft.graph.broadcastCap"))
  }

  test("g35: all three broadcast rungs ≡ the shuffle-regime ladder") {
    bothPathsAgree("g35_coreness", Seq("spark.graft.graph.broadcastCap"))
  }

  // bfsLevels: the broadcast-CSR kernel vs the per-hop shuffle hops.
  // The shuffle levels are DfCache'd and the CSR is a DfCache-owned
  // broadcast, so evict around each run: each regime rebuilds its state.
  private def bothRegimesAgree(name: String)(run: => DataFrame): Seq[Seq[Any]] = {
    val cap = "spark.graft.graph.broadcastCap"
    graft.util.DfCache.evict(spark)
    val kernel = rowsOf(run)
    graft.util.DfCache.evict(spark)
    spark.conf.set(cap, "0")
    try assert(rowsOf(run) === kernel, s"$name CSR kernel vs shuffle hops diverged")
    finally {
      spark.conf.unset(cap)
      graft.util.DfCache.evict(spark)
    }
    kernel
  }

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
    bothPathsAgree("g33_ktruss", Seq("spark.graft.truss.memCkptCap"))
  }

  test("g46: fused one-job rounds ≡ the r13 eager-checkpoint shape") {
    // boolean conf, not a cap — force the unfused (r13) shape and
    // compare against the fused default
    val fast = rowsOf(SparkEntry.queries("g46_boruvka")(spark, dir))
    spark.conf.set("spark.graft.boruvka.fused", "false")
    try {
      val unfused = rowsOf(SparkEntry.queries("g46_boruvka")(spark, dir))
      assert(fast === unfused, "g46 fused vs unfused rounds diverged")
    } finally spark.conf.unset("spark.graft.boruvka.fused")
  }
}
