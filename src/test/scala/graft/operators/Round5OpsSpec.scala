package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.operators.graph.GraphOps
import graft.operators.similarity.SimilarityOps
import graft.operators.text.TextOps
import graft.operators.multimodal.MultimodalOps
import graft.streaming.EventOps

/** Semantic invariants of the round-5 operators that the row-hash
  * oracle gate can't express: inverse laws, distribution-bucket
  * bounds, recall bounds, the relative-tolerance equivalence law,
  * and a from-first-principles fingerprint recomputation. */
class Round5OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  test("q27: lag/lead are inverses — my gap_days is my predecessor's next_gap_days") {
    val rows = Relational.q27LeadLag(spark, dir)
      .select("o_custkey", "o_orderkey", "orderdate", "gap_days", "next_gap_days")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, orders) =>
      // window order is (orderdate, orderkey); 'yyyy-MM-dd' strings
      // sort chronologically, so re-sort the collected rows into it
      val chain = orders.toSeq.sortBy(r => (r._3, r._2))
      chain.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 == b._4, "lead(prev) == lag(next)")
        case _ =>
      }
      assert(chain.head._4.isEmpty && chain.count(_._4.isEmpty) == 1,
        "exactly the first order has no gap")
      assert(chain.last._5.isEmpty && chain.count(_._5.isEmpty) == 1,
        "exactly the last order has no next gap")
    }
  }

  test("q28: bounded frame — mov_sum covers at most 3 rows and dominates the row price") {
    val perCust = Relational.q28MovingFrames(spark, dir)
      .join(graft.sources.Tables.load(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price")),
        Seq("o_orderkey"))
      .select(col("mov_sum"), col("mov_avg"), col("mov_max"), col("price"))
      .collect()
    assert(perCust.nonEmpty)
    perCust.foreach { r =>
      val (s, a, m, p) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(s >= p - 1e-9, "moving sum includes the current row")
      assert(m >= p - 1e-9, "moving max dominates the current row")
      assert(a <= m + 1e-9 && s <= 3 * m + 1e-9, "frame is at most 3 rows")
    }
  }

  test("q29: ntile buckets are balanced (sizes differ by at most 1, sum to the class)") {
    val rows = Relational.q29Ntile(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, qs) =>
      val sizes = qs.map(_.getLong(2))
      assert(qs.length <= 4)
      assert(sizes.max - sizes.min <= 1, "ntile balance")
      val tops = qs.map(_.getLong(5)).distinct
      assert(tops.length == 1, "first_value is constant per class")
    }
  }

  test("s8: recall is in [0,1] over exactly K exact neighbors; exact-vs-exact recall is 1") {
    val rows = SimilarityOps.s8RecallEval(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 5, "n_exact = K")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 5)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the evaluator itself: an index that returns the exact answer
    // must score recall 1.0 on every query
    val ex = SimilarityOps.s1KnnBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val self = ex.join(ex.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg((sum(col("hit")).cast("double") / count(lit(1))).as("recall"))
      .collect()
    assert(self.forall(_.getDouble(1) == 1.0))
  }

  test("e9: week-0 retention is 1.0 and activity never exceeds the cohort") {
    val rows = EventOps.e9CohortRetention(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "n_active <= cohort_size")
    }
    val week0 = rows.filter(_.getLong(1) == 0L)
    assert(week0.nonEmpty)
    week0.foreach { r =>
      assert(r.getLong(2) == r.getLong(3),
        "every user is active in their own first-seen week")
      assert(r.getDouble(4) == 1.0)
    }
  }

  test("t10: per-doc ranks are 1..k and scores non-increasing; score = tf*N/df") {
    val n = graft.sources.Tables.load(spark, dir, "documents").count()
    val rows = TextOps.t10Tfidf(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, terms) =>
      val byRank = terms.sortBy(_.getInt(5))
      assert(byRank.map(_.getInt(5)).toSeq == (1 to byRank.length))
      assert(byRank.length <= 3)
      val scores = byRank.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      byRank.foreach { r =>
        assert(r.getDouble(4) == (r.getLong(2) * n).toDouble / r.getLong(3))
      }
    }
  }

  test("m4: resized fingerprint matches a from-first-principles recomputation") {
    val doc = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(1)
      .collect()(0)
    val (id, text) = (doc.getLong(0), doc.getString(1))
    val bytes = text.getBytes("UTF-8")
    val nOut = bytes.length / 4
    var acc = 0L
    (0 until nOut).foreach { b =>
      val mean = (0 until 4).map(o => bytes(b * 4 + o).toInt & 0xff).sum / 4
      acc = (acc * 1000003L + mean) % 2147483647L
    }
    val got = MultimodalOps.m4Resize(spark, dir)
      .filter(col("doc_id") === id).collect()(0)
    assert(got.getLong(1) == nOut)
    assert(got.getLong(2) == acc)
  }

  test("e10: per-window leaderboard has ranks 1..k with non-increasing counts") {
    val rows = EventOps.e10Trending(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.get(0)).foreach { case (_, win) =>
      val byRank = win.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to byRank.length))
      assert(byRank.length <= 3)
      val counts = byRank.map(_.getLong(2))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q30: histogram bins partition the orders and bound their members") {
    val rows = Relational.q30Histogram(spark, dir).collect()
    val total = graft.sources.Tables.load(spark, dir, "orders").count()
    assert(rows.map(_.getLong(1)).sum == total, "bins must partition all orders")
    rows.foreach { r =>
      val (bin, lo, hi) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      assert(lo >= bin * 50000.0 && hi < (bin + 1) * 50000.0,
        s"bin $bin bounds violated: [$lo, $hi]")
      assert(lo <= hi)
    }
  }

  private def weightedRounds(wed: org.apache.spark.sql.DataFrame) =
    GraphOps.rankRounds(wed, GraphOps.WeightedShare,
      GraphOps.everywhere(GraphOps.TeleportMicros)) _

  test("g15: unit weights reduce weighted pagerank to the unweighted one, bit-exact") {
    // w ≡ 1 ⇒ wsum = deg ⇒ contrib = r DIV deg — the weighted round
    // must degenerate to g5's exactly
    val sym = graft.operators.graph.GraphTables.sym(spark, dir)
    val deg = sym.groupBy(col("src").as("wnode")).agg(count(lit(1)).as("wsum"))
    val unit = sym.join(deg, col("src") === col("wnode"))
      .select(col("src"), col("dst"), lit(1L).as("w"), col("wsum"))
    val start = GraphOps.uniformRanks(spark, dir)
    val a = weightedRounds(unit)(start, 3)
      .orderBy(col("node_id")).collect().toSeq
    val b = GraphOps.pagerankFrom(spark, dir, start, 3)
      .orderBy(col("node_id")).collect().toSeq
    assert(a == b)
  }

  test("g15: weights steer rank — doubling one edge's weight raises its head's rank") {
    import spark.implicits._
    // tiny 3-node line a-b, b-c with a heavy b→c edge: c must outrank a
    val wed = Seq(
      (1L, 2L, 1L, 1L), (2L, 1L, 1L, 5L), (2L, 3L, 4L, 5L), (3L, 2L, 1L, 1L))
      .toDF("src", "dst", "w", "wsum")
    val start = Seq((1L, 1000000L), (2L, 1000000L), (3L, 1000000L))
      .toDF("node_id", "rank")
    val r = weightedRounds(wed)(start, 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(3L) > r(1L), s"heavier in-edge must yield higher rank: $r")
  }

  test("v4: PQ codes are 32-bit, errors non-negative, codebook vectors reconstruct exactly") {
    val rows = graft.operators.vector.VectorOps.v4PqCodes(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32), "8 packed 4-bit codes")
      assert(r.getDouble(2) >= 0.0, "squared error")
    }
    // a codebook seed vector is its own nearest centroid in every
    // subspace — zero reconstruction error by construction
    rows.filter(_.getLong(0) < 16).foreach { r =>
      assert(r.getDouble(2) == 0.0, s"seed vector ${r.getLong(0)} must reconstruct exactly")
    }
  }

  test("weighted relative-tolerance loop equals the same number of fixed weighted rounds") {
    val wed = graft.operators.graph.GraphTables.weightedEdges(spark, dir)
    val start = GraphOps.rankStart(wed, GraphOps.everywhere(GraphOps.RankOne))
    val (v, n) = GraphOps.rankLoopUntilStop(start, weightedRounds(wed)(_, 1),
      GraphOps.relativeStop(200000L), maxIters = 200, minIters = 4)
    assert(n >= 4)
    val fixed = weightedRounds(wed)(start, n)
    assert(v.orderBy(col("node_id")).collect().toSeq ==
      fixed.orderBy(col("node_id")).collect().toSeq)
  }

  test("s9: trained-IVF recall is in [0,1] over exactly K exact neighbors") {
    val rows = SimilarityOps.s9IvfRecall(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 5)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("g14: relative-tolerance run equals the same number of fixed rounds, bit-exact") {
    val (v, n) = GraphOps.pagerankUntilRelDelta(spark, dir, relPpm = 200000L, minIters = 4)
    assert(n >= 4)
    val fixed = GraphOps.pagerankFrom(spark, dir,
      GraphOps.uniformRanks(spark, dir), n)
    val a = v.orderBy(col("node_id")).collect().toSeq
    val b = fixed.orderBy(col("node_id")).collect().toSeq
    assert(a == b)
    // stop rule actually holds at round n and not at round n-1
    def maxes(df: org.apache.spark.sql.DataFrame, prev: org.apache.spark.sql.DataFrame) = {
      val d = df.as("a").join(prev.as("b"), col("a.node_id") === col("b.node_id"))
        .agg(max(abs(col("a.rank") - col("b.rank"))), max(col("a.rank"))).collect()(0)
      (d.getLong(0), d.getLong(1))
    }
    val atN1 = GraphOps.pagerankFrom(spark, dir, GraphOps.uniformRanks(spark, dir), n - 1)
    val (dN, rN) = maxes(fixed, atN1)
    assert(BigInt(dN) * 1000000 <= BigInt(200000) * BigInt(rN), "converged at round n")
    if (n > 4) {
      // only meaningful when the loop stopped ABOVE the minIters
      // floor — at n == minIters the rule may already have held
      // earlier without the loop ever evaluating it
      val atN2 = GraphOps.pagerankFrom(spark, dir, GraphOps.uniformRanks(spark, dir), n - 2)
      val (dN1, rN1) = maxes(atN1, atN2)
      assert(BigInt(dN1) * 1000000 > BigInt(200000) * BigInt(rN1),
        "not yet converged at round n-1")
    }
  }
}
