package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
  *    shuffle regime (g20/g35), and the BFS kernel's broadcast +
  *    quiet hops vs per-hop-AQE shuffle hops (g6/g18/g27/g40).
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

  // bfsLevels: broadcast frontier/seen sides + quiet hops vs the
  // per-hop-AQE shuffle hops. The levels are DfCache'd, so a second run
  // would be a cache hit — evict so each regime re-executes the hops.
  private def bothRegimesAgree(name: String)(run: => DataFrame): Unit = {
    val cap = "spark.graft.graph.broadcastCap"
    graft.util.DfCache.evict(spark)
    val fast = rowsOf(run)
    graft.util.DfCache.evict(spark)
    spark.conf.set(cap, "0")
    try assert(rowsOf(run) === fast, s"$name broadcast vs shuffle hops diverged")
    finally {
      spark.conf.unset(cap)
      graft.util.DfCache.evict(spark)
    }
  }

  Seq("g6" -> "g6_bfs_khop", "g18" -> "g18_harmonic", "g27" -> "g27_reach_profile")
    .foreach { case (tag, q) =>
      test(s"$tag: broadcast-frontier quiet hops ≡ per-hop-AQE shuffle hops") {
        bothRegimesAgree(tag)(SparkEntry.queries(q)(spark, dir))
      }
    }

  test("g40 sweep: broadcast-frontier quiet hops ≡ per-hop-AQE shuffle hops") {
    bothRegimesAgree("g40")(graft.operators.graph.GraphOps.g40Distributed(spark, dir))
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
