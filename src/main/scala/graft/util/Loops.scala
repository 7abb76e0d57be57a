package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Driver-loop execution scope for the iterative operators (pagerank /
  * label fixpoints / peels).
  *
  * Inside a convergence loop every round is a tiny, FIXED-shape query:
  * the joins are co-partitioned by construction (cached edge layout ⋈
  * checkpointed V-row vector), partition coalescing is globally off,
  * and the loop re-plans the same shape every round. Under AQE each
  * such round pays per-stage driver re-planning and materializes its
  * stages eagerly at `toRdd` time, which both adds latency and defeats
  * lazy-checkpoint job fusion (the stop-check action can no longer be
  * the single job that materializes the round). Measured on the g12
  * loop at sf0.1 (min of 3 interleaved reps): 8 rounds 6.38 s with AQE
  * vs 4.78 s without, and 3.88 s without AQE plus the fused stop-check
  * (guide §1).
  *
  * Everything OUTSIDE loop rounds keeps AQE (skew-join splits on the
  * big self-joins are pure win). What a loop ROUND loses without AQE
  * is runtime skew-join splitting — irrelevant at gate scale (the
  * cached edge side's fixed partitioning can't be re-split anyway) but
  * real once the per-round joined side reaches cluster scale. So the
  * policy is decided by DATA, not by a local-mode-leaning default
  * (r13 verdict #9): rounds run AQE-quiet unless the caller-supplied
  * per-round row estimate (the loop's edge/vector side, memoized once
  * per cached table) reaches [[AutoRowThreshold]] — beyond that the
  * round's frontier⋈edges join is big enough that one runtime skew
  * split pays for every re-planning it costs. A 100 TB deployment
  * therefore keeps AQE in its rounds, and gate scale runs quiet.
  */
object Loops {
  /** Per-round row count at which a loop keeps AQE on inside its
    * rounds. 64M rows ≈ a ≥1 GB per-round join side at two longs per
    * row — the scale where §2.5 skew handling starts mattering more
    * than per-round re-planning latency. */
  val AutoRowThreshold = 64000000L

  // Memoized row counts for loop-scale estimates: the tables passed in
  // are DfCache-persisted (counted once by the bench warm-up anyway),
  // so one count per (session, table) is a cheap cached-scan job and
  // every later loop reads the memo. WeakHashMap: entries die with
  // their DataFrame, so an evicted cache entry cannot pin rows forever.
  private val rowsMemo = new java.util.WeakHashMap[DataFrame, java.lang.Long]()

  /** Row count of `df`, memoized per DataFrame. A persisted `df` whose
    * every partition is already cached is not counted again: its cache
    * keeps a row-count accumulator, and once every partition has been
    * built (the same accumulator merge that marks it loaded) that
    * value is read with no job. Otherwise `df` is counted.
    *
    * The accumulator can only overcount: a partition that is evicted
    * and rebuilt adds its rows again. That is safe here because the
    * count only ever feeds a regime gate or a loop-size estimate,
    * never a result; both regimes of every gated operator return the
    * same rows. */
  def memoRows(df: DataFrame): Long = {
    val hit = synchronized(rowsMemo.get(df))
    if (hit != null) hit.longValue()
    else {
      val n = df.queryExecution.withCachedData match {
        case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
          r.cacheBuilder.rowCountStats.value.longValue
        case _ => df.count()
      }
      synchronized(rowsMemo.put(df, n))
      n
    }
  }

  // Scope depth per session. Session conf is process-wide per session,
  // so concurrent loops on different threads of the SAME session would
  // interleave scopes; the engine runs a session's queries single-
  // threaded (the map is synchronized so even a violation cannot
  // corrupt the counter itself).
  private val quietDepth = new java.util.HashMap[SparkSession, Integer]()

  /** Run `body` with AQE disabled for the loop's rounds, unless
    * `loopRows`, the caller's per-round row estimate (edge/vector
    * side), reaches [[AutoRowThreshold]]; negative = unknown, treated
    * as small. Scopes nest when one looped operator's body invokes
    * another, and the outermost scope's policy wins: an inner scope
    * neither reads its own `loopRows` nor touches AQE, so it can never
    * re-enable AQE mid-loop or leave it off after the outer scope ends.
    * An inner big loop inside a quiet outer one runs quiet, and an
    * inner small loop inside an adaptive outer one keeps AQE. */
  def quiet[T](spark: SparkSession, loopRows: => Long = -1L)(body: => T): T = {
    val outermost = synchronized {
      val d = quietDepth.getOrDefault(spark, 0)
      quietDepth.put(spark, d + 1)
      d == 0
    }
    val key = "spark.sql.adaptive.enabled"
    var prev: Option[String] = None
    try {
      if (outermost && loopRows < AutoRowThreshold) {
        prev = Some(spark.conf.get(key, "true"))
        spark.conf.set(key, "false")
      }
      body
    } finally {
      synchronized {
        val d = quietDepth.getOrDefault(spark, 1) - 1
        if (d <= 0) quietDepth.remove(spark) else quietDepth.put(spark, d)
      }
      prev.foreach(spark.conf.set(key, _))
    }
  }
}
