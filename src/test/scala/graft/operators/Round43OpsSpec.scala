package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 hygiene batch: e40's as-of lookup, s51/s52's rotations,
  * t38's entropy bound and the Fwht64 length contract. */
class Round43OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = graft.GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  test("e40: no fact row ever sees future dimension state (leakage-free)") {
    val out = graft.streaming.EventOps.e40Scd2Lookup(spark, dir).collect()
    assert(out.nonEmpty)
    // replay: per user, the sorted purchase changelog IS the dimension
    val purchases = graft.sources.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,2)").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(p => (p._2, p._3)).zipWithIndex
        .map { case ((_, us, _, v), i) => (us, i + 1L, v) }.toSeq).toMap
    var known = 0
    out.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val ts = r.getAs[java.sql.Timestamp]("ts")
      val us = ts.getTime * 1000 + ts.getNanos / 1000 % 1000
      val versions = purchases.getOrElse(u, Seq.empty[(Long, Long, Double)])
      val inEffect = versions.filter(_._1 <= us)  // NEVER future state
      if (r.getAs[Boolean]("is_known")) {
        known += 1
        val (vfUs, ver, value) = inEffect.last
        assert(r.getAs[Long]("state_version") == ver, s"user $u at $us")
        assert(r.getAs[Double]("state_value") == value, s"user $u at $us")
        assert(r.getAs[Long]("state_age_us") == us - vfUs, s"user $u at $us")
        assert(r.getAs[Long]("state_age_us") >= 0L, "as-of never looks forward")
      } else {
        assert(inEffect.isEmpty, s"user $u at $us should have known state")
        assert(r.isNullAt(r.fieldIndex("state_version")))
      }
    }
    assert(known > 0, "some facts carry state")
  }

  test("s51: allocation permutation is orthonormal (bijection) and snake-balanced") {
    val sims = graft.operators.similarity.SimilarityOps
    val perm = sims.allocPerm(spark, dir).collect()
      .map(r => r.getAs[Int]("old_d") -> r.getAs[Int]("new_d")).toMap
    // a permutation matrix is orthonormal iff the map is a bijection
    assert(perm.keySet == (1 to 64).toSet)
    assert(perm.values.toSet == (1 to 64).toSet)
    // snake law: every subspace receives exactly one dim per rank
    // round, so each subspace holds exactly PqD dims
    val bySub = perm.values.groupBy(nd => (nd - 1) / 8)
    assert(bySub.keySet == (0 to 7).toSet)
    bySub.values.foreach(v => assert(v.size == 8))
    // the permuted vector is the same multiset of coordinates, and
    // position new_d carries exactly old coordinate old_d
    val orig = graft.operators.vector.VectorExprs.embFeatures(spark, dir)
      .select(col("vec_id"), col("vd")).filter(col("vec_id") < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val alloc = sims.embAllocated(spark, dir)
      .select(col("vec_id"), col("vd")).filter(col("vec_id") < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    orig.foreach { case (id, v) =>
      val w = alloc(id)
      (1 to 64).foreach { d =>
        assert(w(perm(d) - 1) == v(d - 1), s"vec $id dim $d")
      }
    }
    // variance balance: after-shares are no MORE spread than before
    // (the deal can only flatten or tie; exact on the gauge's ppm)
    val g = graft.operators.vector.VectorOps.v17AllocBalance(spark, dir).collect()
    assert(g.length == 8)
    def spread(c: String) = {
      val xs = g.map(_.getAs[Long](c)); xs.max - xs.min
    }
    // snake-dealing SORTED variances balances shares to within the
    // largest adjacent variance gap — not provably tighter than an
    // arbitrary pre-grouping, so accept either an improvement or an
    // absolutely-flat (<2%) outcome
    assert(spread("share_after_ppm") <= spread("share_before_ppm") ||
        spread("share_after_ppm") < 20000L,
      s"after ${spread("share_after_ppm")} vs before ${spread("share_before_ppm")}")
  }

  test("s52: Givens blocks are orthonormal, norm-preserving, and decorrelate their pairs") {
    val sims = graft.operators.similarity.SimilarityOps
    val alloc = sims.embAllocated(spark, dir)
      .select(col("vec_id"), col("vd")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val giv = sims.embGivens(spark, dir)
      .select(col("vec_id"), col("vd")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(giv.keySet == alloc.keySet)
    // norm preservation (each 2x2 block orthonormal): float scale only
    giv.foreach { case (id, w) =>
      val v = alloc(id)
      val n2v = v.map(x => x * x).sum
      val n2w = w.map(x => x * x).sum
      assert(math.abs(n2w - n2v) <= 1e-9 * math.max(1.0, n2v), s"vec $id norm")
    }
    // the trained angle zeroes each pair's covariance: recompute both
    // from the driver and require |after| to collapse vs |before|
    val n = alloc.size.toDouble
    (0 until 32).foreach { k =>
      def cov(m: Map[Long, Array[Double]]): Double = {
        val xs = m.values.map(_(2 * k)).toArray
        val ys = m.values.map(_(2 * k + 1)).toArray
        (xs.zip(ys).map { case (a, b) => a * b }.sum -
          xs.sum * ys.sum / n) / n
      }
      val before = cov(alloc)
      val after = cov(giv)
      // the angle trains on the MICRO-QUANTIZED covariance but
      // rotates the raw doubles, so the residual floor is the
      // µ-quantization noise (~1e-8 absolute on this corpus), not
      // pure float epsilon — still a ≥10⁴× relative collapse on
      // every pair with real correlation
      assert(math.abs(after) <= math.max(math.abs(before) * 1e-4, 1e-8),
        s"pair $k: after $after vs before $before")
    }
  }

  test("t38: binned entropy within the pinned ±n bound of true Shannon entropy") {
    val rows = graft.operators.text.TextOps.t38TokenEntropy(spark, dir).collect()
    assert(rows.nonEmpty)
    // driver-side double recompute of n·H = n·log2 n − Σ c·log2 c
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byLang = docs.groupBy(_._1).view.mapValues { ds =>
      val counts = ds.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum
      val nh = n * (math.log(n.toDouble) / math.log(2.0)) -
        counts.map(c => c * (math.log(c.toDouble) / math.log(2.0))).sum
      (n, counts.size.toLong, nh)
    }.toMap
    rows.foreach { r =>
      val (n, distinct, nhTrue) = byLang(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Long]("n_distinct") == distinct)
      val nhFloor = r.getAs[Long]("nh_floorbits")
      // per-term floor error is in [0, 1) bit, n terms on each side:
      // |nh_floor − n·H| < n (the documented bound)
      assert(math.abs(nhFloor - nhTrue) < n.toDouble,
        s"${r.getAs[String]("lang")}: floor $nhFloor vs true $nhTrue (n=$n)")
      assert(r.getAs[Long]("h_millibits") == nhFloor * 1000 / n)
      assert(nhFloor >= 0L)
    }
  }

  test("graft_fwht64 rejects arrays that are not exactly 64 elements") {
    import spark.implicits._
    val bad = Seq(Array.fill(63)(1.0)).toDF("v")
      .select(expr("graft_fwht64(v)"))
    val e = intercept[Exception] { bad.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("64 elements")))
  }
}
