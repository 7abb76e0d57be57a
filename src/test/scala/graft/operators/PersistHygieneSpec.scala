package graft.operators

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Pins the persist-hygiene contract: per-query derived tables are
  * DfCache-owned, so (a) repeated invocations reuse one cached copy
  * instead of stranding a fresh persist per call — on a shared cluster
  * stranded MEMORY_AND_DISK blocks squeeze the deliberately-cached
  * tables — and (b) session eviction releases them and queries rebuild
  * correctly afterwards.
  */
class PersistHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  test("repeated g6/g7/g8 runs strand no new cached RDDs") {
    val qs = Seq("g6_bfs_khop", "g7_triangles", "g8_path_interior_counts")
    qs.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
    val after1 = spark.sparkContext.getPersistentRDDs.keySet
    qs.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
    val after2 = spark.sparkContext.getPersistentRDDs.keySet
    val stranded = after2 -- after1
    assert(stranded.isEmpty,
      s"second run stranded new cached RDDs (ids $stranded) — " +
        "per-query persists must be DfCache-owned")
  }

  test("two sessions: evicting one session's cache leaves the other's intact") {
    // the documented multi-session caveat (DfCache.scala): a server
    // multiplexing sessions over one context calls evict(session) on
    // its session-close path — that must not touch sibling sessions
    val s2 = spark.newSession()
    def build(s: org.apache.spark.sql.SparkSession) =
      graft.util.DfCache.cached(s, "multi", "shared")(s.range(100).toDF("id"))
    val a1 = build(spark); a1.collect()
    val b1 = build(s2); b1.collect()
    assert(build(spark) eq a1, "same-session call must be a cache hit")
    assert(build(s2) eq b1, "sibling session keeps its own entry")
    graft.util.DfCache.evict(spark)
    val a2 = build(spark)
    assert(!(a2 eq a1), "evicted session must rebuild a fresh entry")
    assert(build(s2) eq b1, "sibling entry must survive the other session's evict")
    assert(b1.count() == 100, "sibling cached data still usable after evict")
    graft.util.DfCache.evict(s2)
  }

  test("evict releases every RDD g6 and g18 persisted, level checkpoints included") {
    // cap 0: the per-hop shuffle regime, whose levels are checkpoints
    val cap = graft.util.Regimes.GraphBroadcastCap.key
    graft.util.DfCache.evict(spark)
    spark.conf.set(cap, "0")
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Seq("g6_bfs_khop", "g18_harmonic").foreach(q =>
        graft.SparkEntry.queries(q)(spark, dir).collect())
      val created = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(created.size > 1, "expected cached sym and level checkpoints")
      graft.util.DfCache.evict(spark)
      val live = spark.sparkContext.getPersistentRDDs.keySet & created
      assert(live.isEmpty, s"RDDs ${live.toSeq.sorted} still persistent after evict")
    } finally spark.conf.unset(cap)
  }

  test("repeated g6/g18 runs share one CSR broadcast, and evict destroys it") {
    import graft.operators.graph.Csr
    graft.util.DfCache.evict(spark)
    def run(): Seq[Seq[org.apache.spark.sql.Row]] = Seq("g6_bfs_khop", "g18_harmonic")
      .map(q => graft.SparkEntry.queries(q)(spark, dir).collect().toSeq)
    def current() = graft.util.DfCache.broadcastOnce[Csr](spark, dir, "graph_sym_csr")(
      fail("no CSR broadcast is cached for the session"))
    val first = run()
    val b = current()
    assert(run() === first)
    assert(current() eq b, "the second g6/g18 run built a new CSR broadcast")
    graft.util.DfCache.evict(spark)
    intercept[org.apache.spark.SparkException](b.value)
    assert(run() === first, "evict-then-rebuild must reproduce the results")
    assert(!(current() eq b), "the rebuild reused the destroyed broadcast")
  }

  test("DfCache.evict releases blocks and queries rebuild correctly") {
    val before = graft.SparkEntry.queries("g7_triangles")(spark, dir).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "expected cached intermediates")
    graft.util.DfCache.evict(spark)
    val after = graft.SparkEntry.queries("g7_triangles")(spark, dir).collect()
    assert(before.toSeq == after.toSeq, "evict-then-rebuild must reproduce the result")
  }
}
