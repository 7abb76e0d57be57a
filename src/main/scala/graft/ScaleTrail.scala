package graft

import org.apache.spark.sql.functions._
import graft.operators.graph.GraphOps
import graft.util.Regimes

/** Scale-trail pin for the tolerance-loop operators (g12/g14) at
  * scales where their unrolled 24-round MATERIALIZED DuckDB oracles
  * are infeasible (sf10+): run the gated loop, record its stopping
  * round k, and value-compare the converged vector against
  * `pagerankFrom(uniform, k)` — the loop ≡ unroll law that
  * GraphWarmStartSpec pins bit-exactly at spec scale and the DuckDB
  * gate re-proves at sf0.001–sf1, re-executed at the target scale.
  * A zero mismatch count means the loop's checkpoint/fused-delta
  * machinery did not perturb a single rank at that scale.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleTrail <sfDir>"
  * Prints one JSON line per operator.
  */
object ScaleTrail {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // optional probe-name filter: run only the named ops (resume a
    // partial trail without re-paying completed probes); args of the
    // form key=value become session confs (path forcing — e.g.
    // spark.graft.graph.driverNodeCap=0 runs g45's distributed FW-BW)
    val (confArgs, names) = args.drop(1).partition(_.contains("="))
    val confs = Regimes.checked(confArgs.toSeq.map(_.split("=", 2)).map(a => (a(0), a(1))))
    val only = names.toSet
    def want(n: String): Boolean = only.isEmpty || only.contains(n)
    val spark = GraftSession.local(cpus, cpus)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // host-health stamp per row (r12 verdict #2): canary_ratio vs the
    // committed bench baseline + this row's CPU-steal window, so sf1+
    // trail numbers are host-attributable across rounds
    val hs = new HostStamp(spark)
    val probes: Seq[(String, () => (org.apache.spark.sql.DataFrame, Int))] = Seq(
      "g14_pagerank_rel_converged" -> (() => GraphOps.g14Probe(spark, dir)),
      "g12_pagerank_converged" -> (() => GraphOps.g12Probe(spark, dir)))
    probes.filter(p => want(p._1)).foreach { case (name, probe) =>
      val t0 = System.nanoTime()
      val (loopDf, k) = probe()
      val loopSec = (System.nanoTime() - t0) / 1e9
      val unrolled = GraphOps.pagerankFrom(
        spark, dir, GraphOps.uniformRanks(spark, dir), k)
      val joined = loopDf.as("a")
        .join(unrolled.as("b"), Seq("node_id"), "full_outer")
        .agg(count(lit(1)).as("n"),
          sum(when(col("a.rank") === col("b.rank"), 0L).otherwise(1L)).as("bad"))
        .collect()(0)
      val totalSec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"op":"$name","sf":"$dir","rounds":$k,"rows":${joined.getLong(0)},""" +
          s""""mismatches":${joined.getLong(1)},"loop_sec":${"%.1f".format(loopSec)},""" +
          s""""total_sec":${"%.1f".format(totalSec)}${hs.stamp()}}""")
    }
    // Split re-execution probes (round-7 verdict item 6): the gated
    // loop vs the SAME machinery warm-started mid-way — the
    // composition law that holds iff per-round checkpoint/persist
    // plumbing perturbed nothing. Full-outer + value compare, so a
    // node present on one side only also counts as a mismatch.
    val splitProbes: Seq[(String, () => (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, String, String))] = Seq(
      "g17_label_propagation" -> (() => {
        val (a, b) = GraphOps.g17SplitPair(spark, dir); (a, b, "node", "lbl") }),
      "g20_kcore" -> (() => {
        val (a, b) = GraphOps.g20SplitPair(spark, dir)
        (a, b, "node_id", "deg_in_core") }),
      "g35_coreness" -> (() => {
        val (a, b) = GraphOps.g35SplitPair(spark, dir)
        (a, b, "node_id", "coreness") }))
    splitProbes.filter(p => want(p._1)).foreach { case (name, probe) =>
      val t0 = System.nanoTime()
      val (full, split, key, value) = probe()
      val joined = full.as("a")
        .join(split.as("b"), Seq(key), "full_outer")
        .agg(count(lit(1)).as("n"),
          sum(when(col(s"a.$value") === col(s"b.$value"), 0L).otherwise(1L))
            .as("bad"))
        .collect()(0)
      val totalSec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"op":"$name","sf":"$dir","mode":"split_reexec",""" +
          s""""rows":${joined.getLong(0)},"mismatches":${joined.getLong(1)},""" +
          s""""total_sec":${"%.1f".format(totalSec)}${hs.stamp()}}""")
    }
    // g44 SSSP fixpoint audit: the DuckDB oracle unrolls 16 E-row
    // relaxation CTEs — infeasible past sf1 — but the converged
    // vector certifies ITSELF: it is correct iff it is (a) feasible
    // (no edge can shorten any label), (b) tight (every non-seed
    // label is achieved by an in-edge), and (c) exactly covers the
    // seed's connected component. All three are distributed joins —
    // nothing collects — so the audit runs at any scale.
    if (want("g44_weighted_sssp")) {
      val t0 = System.nanoTime()
      val d = GraphOps.g44WeightedSssp(spark, dir)
        .select(col("node_id").as("node"), col("dist_micro").as("dist"))
        .localCheckpoint(true)
      val we = GraphOps.ssspCostEdges(spark, dir)
      val scored = we
        .join(d.select(col("node").as("src"), col("dist").as("du")), Seq("src"))
        .join(d.select(col("node").as("dst"), col("dist").as("dv")),
          Seq("dst"), "left_outer")
      val infeasible = scored
        .filter(col("dv").isNull || col("dv") > col("du") + col("cost")).count()
      val seed = we.agg(min(col("src"))).collect()(0).getLong(0)
      val loose = scored.groupBy(col("dst"))
        .agg(min(col("du") + col("cost")).as("best"))
        .join(d.select(col("node").as("dst"), col("dist")), Seq("dst"))
        .filter(col("dst") =!= seed && col("best") =!= col("dist")).count()
      val reach = d.count()
      val comp = GraphOps.g11ComponentsConverged(spark, dir)
      val seedComp = comp.filter(col("node_id") === seed)
        .agg(min(col("component"))).collect()(0).getLong(0)
      val compSize = comp.filter(col("component") === seedComp).count()
      val totalSec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"op":"g44_weighted_sssp","sf":"$dir","mode":"fixpoint_audit",""" +
          s""""rows":$reach,"infeasible":$infeasible,"untight":$loose,""" +
          s""""component_size":$compSize,""" +
          s""""mismatches":${infeasible + loose + math.abs(reach - compSize)},""" +
          s""""total_sec":${"%.1f".format(totalSec)}${hs.stamp()}}""")
    }
    // g45 SCC fixpoint audit (the g44 class): the DuckDB closure
    // oracle explodes past sf0.1 (the cyclic core's reach-pair set is
    // quadratic in the giant SCC), but the decomposition certifies
    // ITSELF — it is the SCC partition iff
    //  (a) every class is strongly connected: a forward AND a
    //      backward frontier propagation over INTRA-class edges,
    //      all classes in parallel, seeded at each class's root
    //      (scc_id = min member, so the root is a member), must
    //      flip every member — a wrongly-MERGED class fails here;
    //  (b) the CONTRACTED class graph is acyclic (an in/out-degree
    //      trim peel empties it) — a wrongly-SPLIT SCC would leave a
    //      cycle between its two halves.
    // All distributed joins; nothing corpus-sized collects.
    if (want("g45_scc")) {
      val t0 = System.nanoTime()
      val scc = GraphOps.g45Scc(spark, dir)
        .select(col("node_id").as("node"), col("scc_id").as("scc"))
        .localCheckpoint(true)
      val nScc = scc.select(col("scc")).distinct().count()
      val e = GraphOps.sccEdges(spark, dir)
      val tagged = e
        .join(scc.select(col("node").as("src"), col("scc").as("ss")), Seq("src"))
        .join(scc.select(col("node").as("dst"), col("scc").as("sd")), Seq("dst"))
        .localCheckpoint(true)
      val intra = tagged.filter(col("ss") === col("sd"))
        .select(col("src"), col("dst"))
        .repartition(col("src")).localCheckpoint(true)
      def unreached(edges: org.apache.spark.sql.DataFrame): Long = {
        val seed = scc.select(col("node"),
          when(col("node") === col("scc"), lit(0L)).otherwise(lit(1L)).as("lbl"))
        GraphOps.minLabelFixpoint(edges, seed, seedIf = col("lbl") === 0L,
            maxIters = 200, mustConverge = true)
          .filter(col("lbl") =!= 0L).count()
      }
      val fwdMiss = unreached(intra)
      val bwdMiss = unreached(
        intra.select(col("dst").as("src"), col("src").as("dst"))
          .repartition(col("src")))
      var ce = tagged.filter(col("ss") =!= col("sd"))
        .select(col("ss").as("src"), col("sd").as("dst")).distinct()
        .localCheckpoint(true)
      var cCnt = ce.count()
      var stuck = false
      var rounds = 0
      while (cCnt > 0 && !stuck && rounds < 200) {
        val alive = ce.select(col("src").as("node")).distinct()
          .join(ce.select(col("dst").as("node")).distinct(), Seq("node"))
        val ne = ce.join(alive.select(col("node").as("src")), Seq("src"))
          .join(alive.select(col("node").as("dst")), Seq("dst"))
          .select(col("src"), col("dst")).localCheckpoint(true)
        val nCnt = ne.count()
        stuck = nCnt == cCnt
        ce = ne
        cCnt = nCnt
        rounds += 1
      }
      val totalSec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"op":"g45_scc","sf":"$dir","mode":"fixpoint_audit",""" +
          s""""rows":${scc.count()},"n_scc":$nScc,""" +
          s""""fwd_unreached":$fwdMiss,"bwd_unreached":$bwdMiss,""" +
          s""""contracted_cycle_edges":$cCnt,""" +
          s""""mismatches":${fwdMiss + bwdMiss + cCnt},""" +
          s""""total_sec":${"%.1f".format(totalSec)}${hs.stamp()}}""")
    }
    // g46 MSF self-audit (the oracle-free class — the unrolled
    // Borůvka oracle is infeasible past sf1). F certifies itself:
    //  (a) |F| = V − C with C = g11's component count. F ⊆ E means
    //      F's partition REFINES the graph's, so equal part COUNTS
    //      force the partitions equal (spanning), and |F| = V − C_F
    //      iff acyclic — one count law proves both: |F| = V − C
    //      ⇒ V − C = |F| ≥ V − C_F ⇒ C_F ≤ C ⇒ C_F = C ⇒ acyclic.
    //  (b) cut optimality over ALL singleton cuts: every node's
    //      lexicographic-min incident edge is in the unique MSF
    //      (the cut property at {v}) — one map-side-combined
    //      min(struct) + one anti-join, V cuts checked exhaustively.
    // All distributed; nothing corpus-sized collects.
    if (want("g46_boruvka")) {
      val t0 = System.nanoTime()
      val f = GraphOps.g46Boruvka(spark, dir).localCheckpoint(true)
      val nF = f.count()
      val wc = GraphOps.mstCostEdges(spark, dir)
      val nV = wc.select(col("src")).distinct().count()
      val comp = GraphOps.g11ComponentsConverged(spark, dir)
      val nC = comp.select(col("component")).distinct().count()
      val sizeBad = math.abs(nF - (nV - nC))
      val nodeMin = wc
        .groupBy(col("src"))
        .agg(min(struct(col("cost"),
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))).as("m"))
        .select(col("m.a").as("u"), col("m.b").as("v")).distinct()
      val nCuts = nodeMin.count()
      val cutMiss = nodeMin
        .join(f.select(col("u"), col("v")), Seq("u", "v"), "left_anti").count()
      val totalSec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"op":"g46_boruvka","sf":"$dir","mode":"msf_audit",""" +
          s""""rows":$nF,"n_nodes":$nV,"n_components":$nC,""" +
          s""""size_law_delta":$sizeBad,"singleton_cuts":$nCuts,""" +
          s""""cut_misses":$cutMiss,""" +
          s""""mismatches":${sizeBad + cutMiss},""" +
          s""""total_sec":${"%.1f".format(totalSec)}${hs.stamp()}}""")
    }
    // g33 delta-tail probe (r11 verdict item 4): the shipped
    // deltaWaveCap=1024 was set from a NEGATIVE (sf0.1's round-2 wave
    // of 22 380 ran 12.4 s delta vs 8.0 s full); this probe records
    // whether the delta path ever actually engages and WINS on the
    // tiny converged-tail waves it was kept for. An EXTENDED peel
    // (rounds conf'd to 12) runs past the gated 3-round horizon into
    // the converged tail, once all-full (cap 0) and once with the
    // shipped cap — trajectories must match exactly (the correctness
    // half), and the wall-clock + engaged-round counts decide whether
    // the path stays or gets demoted to debug-only. Each run restores
    // the session's own deltaWaveCap (a key=value arg included).
    if (want("g33_delta_tail")) {
      val shippedCap = Regimes.TrussDeltaWaveCap.default
      def run(cap: Long): (Seq[(Int, Long)], Double) =
        AbProbe.withConfs(spark, Seq(Regimes.TrussDeltaWaveCap.key -> cap.toString)) {
          val t0 = System.nanoTime()
          val rows = GraphOps.g33Ktruss(spark, dir, maxRounds = 12).collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
          (rows, (System.nanoTime() - t0) / 1e9)
        }
      // shared round-0 layout built once so neither variant pays it
      GraphOps.g7OrientedEdges(spark, dir).count()
      val (fullTraj, fullSec) = run(0L) // cap 0 ⇒ every wave > cap ⇒ all-full
      val (deltaTraj, deltaSec) = run(shippedCap)
      val mism = fullTraj.zipAll(deltaTraj, (-1, -1L), (-2, -2L))
        .count { case (a, b) => a != b }
      // round r+1 executes iff wave_r > 0 (the loop stops at fixpoint)
      // and takes the delta path iff wave_r ≤ cap — recover engagement
      // from the trajectory; the last wave drives no following round
      val waves = deltaTraj.map(_._2).sliding(2)
        .map { case Seq(a, b) => a - b }.toSeq
      val engaged = waves.dropRight(1)
        .count(w => w > 0 && w <= shippedCap)
      println(
        s"""{"op":"g33_delta_tail","sf":"$dir","mode":"extended_peel",""" +
          s""""rounds":${fullTraj.size - 1},"delta_rounds_engaged":$engaged,""" +
          s""""trajectory":[${deltaTraj.map(_._2).mkString(",")}],""" +
          s""""mismatches":$mism,"full_sec":${"%.1f".format(fullSec)},""" +
          s""""delta_sec":${"%.1f".format(deltaSec)}${hs.stamp()}}""")
    }
    spark.stop()
  }
}
