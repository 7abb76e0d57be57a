package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Asserts the plan shapes the 100 TB design depends on: filters and
  * projections reaching the parquet scan, dims broadcast, partial
  * (map-side) aggregation, whole-stage codegen on hot paths, and cache
  * reuse for shared derived tables. A query can be value-correct and
  * still scale-broken — these specs pin the plan, not the output.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  /** Final (post-AQE) physical plan text. */
  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Parquet scans in a DfCache entry's build, counted in the plan that
    * ran it. A reused exchange is a leaf here, so a subtree the build
    * reads twice through one exchange counts once. */
  private def buildScans(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object Aqe extends AdaptiveSparkPlanHelper
    df.count()
    val build = Aqe.collectFirst(df.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan
    }.getOrElse(fail("not a cached table"))
    Aqe.collect(build) { case s: FileSourceScanExec => s }.size
  }

  test("q2: filter and projection are pushed into the parquet scan") {
    val df = SparkEntry.queries("q2_filter_project")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: ["), "filters must reach the scan")
    assert(plan.contains("IsNotNull"), "pushed filter list must be non-trivial")
    // projection pruning: the scan must read a strict subset of columns
    val readCols = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1).count(_ == ':')).getOrElse(99)
    assert(readCols < 8, s"scan should be pruned, read $readCols columns")
  }

  test("q5: snowflake join broadcasts the dimension tables") {
    val plan = planOf(SparkEntry.queries("q5_multijoin")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast, not shuffle")
  }

  test("q1: aggregation is partial (map-side combine) and codegen'd") {
    val plan = planOf(SparkEntry.queries("q1_agg")(spark, dir))
    assert(plan.contains("HashAggregate"), "hash aggregation expected")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "partial + final aggregate expected (map-side combine)")
    // whole-stage codegen shows as "*(n)" stage markers in the plan text
    assert(plan.contains("*("), "hot path must stay in whole-stage codegen")
  }

  test("q9: global sort+limit becomes TakeOrderedAndProject (no full sort)") {
    val plan = planOf(SparkEntry.queries("q9_sort_limit")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must not materialize a global sort")
  }

  test("graph: the symmetric edge table builds with exactly two exchanges") {
    // one dedup shuffle for the duplicate-heavy part→supplier branch
    // (map-side combined) + one layout exchange by src whose in-place
    // distinct must NOT add a third — HashPartitioning(src) satisfies
    // the (src, dst) clustering, so a third Exchange means the final
    // distinct re-shuffled and the build contract broke
    val plan = graft.operators.graph.GraphTables.sym(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 2, s"expected 2 exchanges in sym build, got $exchanges")
    // one scan per table per exchange path: the five main-path tables
    // plus lineitem once more under the part→supplier pre-dedup
    assert(buildScans(graft.operators.graph.GraphTables.sym(spark, dir)) == 6)
  }

  test("graph: the directed and weighted edge tables scan each table once") {
    import graft.operators.graph.GraphTables
    for ((name, df) <- Seq(
        "graph_wedges" -> GraphTables.weightedEdges(spark, dir),
        "graph_dir" -> GraphTables.directed(spark, dir),
        "graph_dir_dst" -> GraphTables.directedByDst(spark, dir)))
      assert(buildScans(df) == 5, s"$name: expected one scan per source table")
  }

  test("g5: pagerank iterations reuse the cached edge table") {
    // one uncached rank round over each edge table: the edge side is
    // read from cache in its src layout and never reshuffled — only
    // the V-row vector moves. Walking up from a cache scan through
    // row-wise operators, the first operator that regroups rows must
    // not be an Exchange.
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter,
      ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.operators.graph.{GraphOps, GraphTables}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    def rowWise(p: SparkPlan): Boolean = p match {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: InputAdapter |
          _: WholeStageCodegenExec | _: ColumnarToRowExec | _: FilterExec |
          _: ProjectExec => true
      case _ => false
    }
    // (cache scan, first regrouping operator above it)
    def scans(p: SparkPlan, above: Option[SparkPlan]): Seq[(InMemoryTableScanExec, Option[SparkPlan])] =
      p match {
        case s: InMemoryTableScanExec => Seq((s, above))
        case _ => kids(p).flatMap(scans(_, if (rowWise(p)) above else Some(p)))
      }
    for ((edges, share) <- Seq(
        GraphOps.edgesWithDeg(spark, dir) -> GraphOps.UniformShare,
        GraphTables.weightedEdges(spark, dir) -> GraphOps.WeightedShare)) {
      val round = GraphOps.rankRounds(edges, share,
        GraphOps.everywhere(GraphOps.TeleportMicros))(
        GraphOps.rankStart(edges, GraphOps.everywhere(GraphOps.RankOne)), 1)
      round.collect()
      val found = scans(round.queryExecution.executedPlan, None)
      val plan = round.queryExecution.executedPlan.toString
      assert(found.exists(_._1.output.exists(_.name == "dst")),
        s"the round must read the edge list from cache:\n$plan")
      found.foreach { case (_, above) =>
        assert(!above.exists(_.isInstanceOf[Exchange]),
          s"the cached edge list must not be reshuffled:\n$plan")
      }
    }
  }

  test("s1: brute-force kNN broadcasts the query set over the corpus scan") {
    val plan = planOf(SparkEntry.queries("s1_knn_brute")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "query set must broadcast; corpus must not shuffle")
    // top-k must be the bounded mergeable aggregate, not a per-query
    // window sort of the full scored corpus (one task sorts N rows)
    assert(plan.contains("ObjectHashAggregate"),
      "per-query top-k must be the bounded aggregate")
    assert(!plan.contains("Window"), "no per-query window sort in kNN ranking")
  }

  test("d2: LSH candidate join shuffles on the band key, not a cross join") {
    val plan = planOf(SparkEntry.queries("d2_minhash_lsh")(spark, dir))
    assert(!plan.contains("CartesianProduct"), "no O(n^2) cross join allowed")
  }

  test("q17: the per-part aggregate input is semi-join-pruned to the one brand") {
    val plan = planOf(SparkEntry.queries("q17_scalar_subquery")(spark, dir))
    assert(plan.contains("LeftSemi"),
      "lineitem must be pruned by the brand part list BEFORE the per-part aggregate")
    assert(plan.contains("BroadcastHashJoin"), "the brand part list must broadcast")
  }

  test("t6: no window partitioned by the low-cardinality source alone") {
    // The heavy prefix-sum window must partition by (source, shard) —
    // shard count grows with data — and the only source-alone window
    // (the exclusive shard-offset scan) orders by shard over the tiny
    // per-shard totals table. Either way every window spec in the plan
    // must involve `shard`; the old scale-broken shape
    // (windowspecdefinition(source, doc_id ASC ...)) does not.
    val plan = planOf(SparkEntry.queries("t6_pack_sequences")(spark, dir))
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, "expected window operators in the packing plan")
    specs.foreach { l =>
      assert(l.contains("shard"),
        s"window spec without shard on the documents path: $l")
    }
    assert(plan.contains("BroadcastHashJoin"),
      "per-shard offsets must broadcast back, not shuffle the documents")
  }

  test("s7: trained IVF keeps the s4 shape — broadcast probe, partial argmin, bounded top-k") {
    val plan = planOf(SparkEntry.queries("s7_ivf_trained")(spark, dir))
    assert(plan.contains("partial_min"),
      "corpus→centroid assignment must partially aggregate (map-side argmin)")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "centroids and the probe set must broadcast; the corpus must not shuffle for them")
    assert(plan.contains("ObjectHashAggregate"),
      "per-query top-k must be the bounded mergeable aggregate")
    // the only window ranks |centroids| rows per query vector — make
    // sure no window runs over the corpus-sized pair stream
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    specs.foreach(l => assert(!l.contains("neighbor_id"),
      s"corpus-sized window leaked into the probe path: $l"))
  }

  test("t9: curation pipeline windows all key on grow-with-data columns") {
    // dedup window partitions by md5(text) (distinct-text cardinality),
    // packing windows by (source, shard) / shard — never by the
    // low-cardinality source alone over document rows
    val plan = planOf(SparkEntry.queries("t9_curation_pipeline")(spark, dir))
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, "expected dedup + packing windows")
    // the md5 partition key is pre-projected to a _w0 alias — require
    // the projection itself to be the md5, then accept either key
    assert(plan.contains("md5("), "dedup window must partition by md5(text)")
    specs.foreach { l =>
      assert(l.contains("shard") || l.contains("_w"),
        s"window keyed only on low-cardinality columns: $l")
    }
    assert(plan.contains("BroadcastHashJoin"),
      "per-shard offsets must broadcast back, not shuffle the documents")
    assert(!plan.contains("CartesianProduct"), "no cross join anywhere in the pipeline")
  }

  test("t9: text is pruned below the dedup window's exchange") {
    // the dedup stage windows over md5(text); ExtractWindowExpressions
    // must project the hash to a _w alias and column pruning must drop
    // `text` itself before the window — otherwise the full surviving
    // corpus text rides the dedup shuffle at 100 TB. Pinned on the
    // optimized logical plan: the physical exchange's input is exactly
    // the window child's output, so text absent here ⇒ text not
    // shuffled (robust to AQE's stage wrapping).
    val df = SparkEntry.queries("t9_curation_pipeline")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the dedup + packing windows")
    windows.foreach { w =>
      assert(!w.child.output.map(_.name).contains("text"),
        s"text must not ride a window exchange: ${w.child.output.map(_.name)}")
    }
  }

  test("g13: repeated invocation serves the personalized vector from cache") {
    val df1 = SparkEntry.queries("g13_personalized_pagerank")(spark, dir)
    df1.collect()
    val plan = planOf(SparkEntry.queries("g13_personalized_pagerank")(spark, dir))
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      "second g13 call must reuse the DfCache'd rank vector")
  }

  test("q27/q28: offset and frame windows share ONE exchange+sort on the customer key") {
    // lag, lead (q27) and the three frame aggregates (q28) all use the
    // same (partition, order) spec — Spark must evaluate each query's
    // windows in a single Window operator over a single shuffle; a
    // second non-reused exchange means the specs diverged
    for (q <- Seq("q27_lead_lag", "q28_moving_frames")) {
      // AQE's toString appends the pre-adaptive "Initial Plan" section
      // — count operators in the final plan only
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
        .split("== Initial Plan ==")(0)
      val windows = "Window \\[".r.findAllIn(plan).length
      assert(windows == 1, s"$q: expected one fused Window operator, got $windows")
      val exchanges = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      assert(exchanges == 1, s"$q: expected one hash exchange, got $exchanges")
    }
  }

  test("q29: ntile is the two-phase distributed rank — no class-only window sort") {
    // a ntile window partitioned by the 5-value priority class would
    // serialize each class into one task's sort; the rewrite shards
    // the rank by deterministic price buckets, so every window spec
    // must involve `bin` (the heavy one partitions by (cls, bin); the
    // offsets window orders the tiny counts table by bin)
    val plan = planOf(SparkEntry.queries("q29_ntile")(spark, dir))
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, "expected the sharded rank windows")
    specs.foreach(l => assert(l.contains("bin"),
      s"window without the bin shard key (class-only sort leaked back): $l"))
    assert(plan.contains("BroadcastHashJoin"),
      "offsets and totals must broadcast back")
  }

  test("t10: tf-idf windows partition by doc_id and the doc count broadcasts") {
    val plan = planOf(SparkEntry.queries("t10_tfidf")(spark, dir))
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty)
    specs.foreach(l => assert(l.contains("doc_id"),
      s"top-k window must partition by the grow-with-data doc_id: $l"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the corpus-size scalar must broadcast")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      "tf and df aggregates must both map-side combine")
  }

  test("s8: recall join joins two K-row sides — no corpus-sized shuffle, no cross join") {
    val plan = planOf(SparkEntry.queries("s8_recall_eval")(spark, dir))
    assert(!plan.contains("CartesianProduct"), "no cross join in the evaluator")
    assert(plan.contains("ObjectHashAggregate"),
      "both inputs keep the bounded top-k aggregate shape")
  }

  test("s10: ADC search broadcasts the query LUTs over the codes scan — no corpus shuffle, no window") {
    // the entire point of PQ search: the corpus side is the 12 B/row
    // codes table consumed map-side; ranking is the bounded top-k
    // aggregate. A SortMergeJoin or Window here means something
    // corpus-sized shuffled or sorted.
    val plan = planOf(SparkEntry.queries("s10_pq_knn")(spark, dir))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "per-query lookup tables must broadcast over the codes scan")
    assert(!plan.contains("SortMergeJoin"), "no corpus-sized join shuffle")
    assert(!plan.contains("Window"),
      "top-k must be the bounded mergeable aggregate, not a window sort")
  }

  test("m4: resize is one narrow scan — no shuffle at all") {
    val plan = planOf(SparkEntry.queries("m4_resize")(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"),
      "block-average resize must not shuffle")
    assert(plan.contains("*("), "resize arithmetic must stay in codegen")
  }

  test("g4: walk hop is a map-side-combined transition-table aggregate") {
    val plan = planOf(SparkEntry.queries("g4_walk_visits")(spark, dir))
    assert(plan.contains("partial_min"),
      "per-hop src→next choice must partially aggregate (map-side combine)")
    assert(!plan.contains("Window"), "no per-walker window sort in the walk")
  }

  test("q31: the 256-cell sketch broadcasts into the probe; top-20 is a bounded top-k") {
    val plan = planOf(SparkEntry.queries("q31_countmin")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "the d×w cell grid is constant-sized — it must broadcast")
    assert(plan.contains("TakeOrderedAndProject"),
      "exact heavy hitters must be a distributed bounded top-k, not a global sort")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q32: power sums are ONE map-side-combined aggregate pass, no join") {
    val plan = planOf(SparkEntry.queries("q32_corr")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "partial + final aggregate expected")
    assert(!plan.contains("Join"),
      "six power sums need no join — one pass over the fact table")
    assert(!plan.contains("Window"), "and no window")
  }

  test("m5: hash build is partially aggregated; pair join is never a cross join") {
    val plan = planOf(SparkEntry.queries("m5_ahash_dup")(spark, dir))
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      "per-block char sums must map-side combine")
    assert(!plan.contains("CartesianProduct"),
      "candidate pairs come from chunk buckets, never all-pairs")
  }

  test("s14: PQ training and re-encoding broadcast the cells — no corpus-sized join side") {
    val plan = planOf(SparkEntry.queries("s14_pq_trained")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the 128 trained cells must broadcast under the argmin scan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      "the per-subspace argmin must partially aggregate")
  }

  test("e11: the anomaly rule is one aggregate + one bounded window — no join") {
    val plan = planOf(SparkEntry.queries("e11_anomaly")(spark, dir))
    assert(!plan.contains("Join"), "trailing stats come from a window, not a self-join")
    assert(plan.contains("Window"))
  }

  test("s16: the metadata filter is the broadcast join's equi-key — corpus unshuffled, no cross join") {
    val plan = planOf(SparkEntry.queries("s16_filtered_knn")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "label must be the hash key of the broadcast candidate join")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"), "top-k is the bounded aggregate, not a window sort")
    assert("Exchange hashpartitioning\\(c".r.findFirstIn(plan).isEmpty,
      "the corpus side must not shuffle for the candidate join")
  }

  test("s17: SSE is two map-side-combined aggregate passes — no centroid join, no window") {
    val plan = planOf(SparkEntry.queries("s17_cluster_quality")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).length >= 3,
      "per-(cluster,d) power sums and the per-cluster rollup must partially aggregate")
    assert(!plan.contains("CartesianProduct"),
      "the only corpus-wide join is the broadcast centroid assignment")
    assert(!plan.contains("Window"), "assignment is the min-struct aggregate, not a window")
  }

  test("g19: coefficient rides g7's cached stages — map-side-combined agg, no cross join, no window") {
    val plan = planOf(SparkEntry.queries("g19_clustering_coeff")(spark, dir))
    assert(plan.contains("InMemoryTableScan"),
      "the oriented-edge/adjacency/degree stages must come from the shared g7 cache")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "the per-node triangle count must partially aggregate before its V-row shuffle")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"), "no per-node window sort")
  }

  test("g21: wedge pass is an equi-join on the capped center — no cross join, partial agg") {
    val plan = planOf(SparkEntry.queries("g21_common_neighbors")(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "wedge enumeration must join on the shared center, never cross")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "common-neighbor counts must partially aggregate before the pair shuffle")
    assert(!plan.contains("Window"), "no per-pair window sort")
  }

  test("t15: one shared bigram table feeds corpus counts and the per-doc verdict") {
    val plan = planOf(SparkEntry.queries("t15_bigram_coverage")(spark, dir))
    assert(plan.contains("InMemoryTableScan"),
      "the exploded bigram table must be DfCache-shared, not scanned twice from parquet")
    assert(!plan.contains("BroadcastExchange") || !plan.contains("CartesianProduct"),
      "the common-set join is a co-partitioned equi-join")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "corpus bigram counts must map-side combine")
    assert(!plan.contains("Window"), "coverage is an aggregate, not a window")
  }

  test("q34: grouped top-k is the bounded aggregate — no window, map-side combined") {
    val plan = planOf(SparkEntry.queries("q34_top_per_group")(spark, dir))
    assert(!plan.contains("Window"),
      "per-supplier top-5 must be the O(k)-state aggregate, not a window sort")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      "both the pair rollup and the top-k aggregate must partially aggregate")
  }

  test("g21/g22: the capped center-edge table is cache-shared across both link predictors") {
    planOf(SparkEntry.queries("g21_common_neighbors")(spark, dir))
    val plan = planOf(SparkEntry.queries("g22_resource_allocation")(spark, dir))
    assert(plan.contains("InMemoryTableScan"),
      "g22's wedge pass must serve from the DfCache'd center edges g21 built")
    assert(!plan.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "RA sums must partially aggregate before the pair shuffle")
  }

  test("d13: signature compare rides the cached shingle features — no explode of pairs, no window") {
    val plan = planOf(SparkEntry.queries("d13_minhash_estimate")(spark, dir))
    assert(plan.contains("InMemoryTableScan"),
      "both signature sides must come from the shared shingle cache")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"))
  }

  test("m6: frame sums map-side combine; the delta window is per-doc bounded") {
    val plan = planOf(SparkEntry.queries("m6_shot_detect")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "per-frame char sums must partially aggregate before the frame shuffle")
    assert(plan.contains("Window"), "the consecutive-frame delta is a lag window")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan.toLowerCase).isDefined
      || plan.contains("PartitionBy: [doc_id"),
      "the delta window must partition by doc_id (payload-bounded, grows with docs)")
    assert(!plan.contains("CartesianProduct"))
  }

  test("v5/s20: sign codes are one narrow scan; hamming kNN broadcasts queries, no corpus shuffle") {
    val vplan = planOf(SparkEntry.queries("v5_sign_quantize")(spark, dir))
    assert(!vplan.contains("Exchange hashpartitioning"),
      "sign packing is embarrassingly parallel — no shuffle before the output sort")
    val splan = planOf(SparkEntry.queries("s20_hamming_knn")(spark, dir))
    assert(splan.contains("BroadcastHashJoin") || splan.contains("BroadcastNestedLoopJoin"),
      "the 10 query codes must broadcast over the code scan")
    assert(!splan.contains("Window"), "top-k is the bounded aggregate, not a window sort")
    assert("Exchange hashpartitioning\\(c".r.findFirstIn(splan).isEmpty,
      "the corpus code scan must not shuffle for the candidate join")
  }

  test("q37: the bloom words broadcast into the probe scan — fact side never shuffles") {
    val plan = planOf(SparkEntry.queries("q37_bloom_filter")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3,
      "word lookups AND the membership check must broadcast over the probe scan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the lineitem probe must not shuffle for the bloom or membership joins")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "the verdict rollup must partially aggregate (one row per partition)")
  }

  test("t17: winnowing's min-window partitions by doc_id; rollup is partial-aggregated") {
    val plan = planOf(SparkEntry.queries("t17_winnowing")(spark, dir))
    assert(plan.contains("Window"), "the window min is a frame, not a self-join")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan.toLowerCase).isDefined
      || plan.contains("PartitionBy: [doc_id"),
      "the min window must partition per doc (bounded by doc length)")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      "no join anywhere — one explode, one window, one rollup")
  }

  test("v8/s31: SQ encode broadcasts the 64-entry bounds; asymmetric kNN never shuffles the corpus") {
    // encode = train (64-cell partial agg) + broadcast bounds + one
    // narrow in-row pass; a hashpartitioning of the code scan means
    // the 64 B/vector promise broke
    val vplan = planOf(SparkEntry.queries("v8_sq_codes")(spark, dir))
    assert(vplan.contains("BroadcastNestedLoopJoin"),
      "the trained (mnv, mxv) bounds row must broadcast over the corpus scan")
    assert("HashAggregate".r.findAllIn(vplan).length >= 2,
      "per-dim min/max training must partially aggregate")
    val splan = planOf(SparkEntry.queries("s31_sq_knn")(spark, dir))
    assert(!splan.contains("Window"),
      "top-k is the bounded aggregate, not a window sort")
    assert(!splan.contains("SortMergeJoin") && !splan.contains("ShuffledHashJoin"),
      "query side broadcasts; the code scan must not shuffle for the join")
  }

  test("q39: grouped mode is two partial aggregates — no window, no per-group sort") {
    val plan = planOf(SparkEntry.queries("q39_mode")(spark, dir))
    assert(!plan.contains("Window"), "argmax must be min(struct), not row_number")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      "both aggregation phases must map-side combine")
  }

  test("e17: session paths run in ONE user_id window exchange — no (user, session) reshuffle") {
    val plan = planOf(SparkEntry.queries("e17_session_paths")(spark, dir))
      .split("== Initial Plan ==").head
    // partition spec = user_id alone: the first windowspecdefinition
    // argument list must go straight from user_id into the ts ordering
    // (sid may appear as a lead TARGET, never as a partition key)
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, "expected window operators")
    specs.foreach { s =>
      assert("^user_id#\\d+L, ts#".r.findFirstIn(s).isDefined,
        s"every window must partition by user_id alone: $s")
    }
    val windowExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(windowExchanges <= 1,
      s"sessionize + both leads must share one exchange, got $windowExchanges")
  }

  test("m10: the chunk manifest is one in-row generate — no shuffle before the output sort") {
    val plan = planOf(SparkEntry.queries("m10_chunk_manifest")(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"),
      "chunk explosion is per-row — nothing to co-locate")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "offsets are arithmetic on the row itself")
  }
}
