package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local testing runs `local[N]`; the same configs are what we'd set on
  * a real cluster (AQE, small-dim broadcast, skew handling). The
  * reference sized its own worker pool by hand
  * (Runner.java:105 `getMaxNumberOfThreads`); on Spark the scheduler
  * owns that, we only shape the shuffle.
  *
  * Sessions of one context share generated code: artifact isolation
  * is off. Spark's codegen cache (`CodeGenerator.compile`) keys each
  * class on (task context classloader, code), and with isolation on
  * every session's tasks run under a classloader of their own, so a
  * fresh session misses the cache even for byte-identical code and
  * recompiles (and HotSpot re-warms) every class it runs. A report
  * per fresh session (`newSession()`) paid that for every plan; off,
  * each plan's classes compile once per JVM. The price is that jars,
  * files or archives one session adds with `addArtifact` are visible
  * to the others; graft adds none. SQL confs stay per session: a
  * conf that changes what a class does (ANSI overflow checks) changes
  * its code, so it changes the cache key too. Sessions made later with
  * `newSession()` inherit the setting through the SparkConf; setting
  * it on a running session has no effect.
  */
object GraftSession {
  def local(threads: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Skew-join splitting is pure win; runtime partition coalescing is
      // NOT for this workload: our stages are CPU-heavy over compact
      // shuffles (hash folds, LSH), and coalescing trades parallelism
      // for fewer tasks. On an IO-bound 100 TB scan-heavy job flip it on.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Broad enough for every dim table; fact-side relations stay on
      // shuffle joins (runaway auto-broadcasts of exploded intermediates
      // cost more than the shuffle they save).
      .config("spark.sql.autoBroadcastJoinThreshold", (16L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Iterative peels (g33) retire an E-row localCheckpoint + its
      // shuffle files every round; those disk blocks are only freed
      // once the ContextCleaner sees the RDD collected. Default
      // periodic GC is 30 min — far longer than a round — so spill
      // accumulated across rounds (measured sf10 scratch overrun).
      // A 30 s cadence bounds on-disk rounds without the former
      // stop-the-world System.gc() per peel round.
      .config("spark.cleaner.periodicGC.interval", "30s")
      // one codegen cache for every session of this context (above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same effect as spark.sql.extensions=graft.functions.GraftExtensions
    // on a cluster; registered directly so ad-hoc sessions get it too.
    graft.functions.GraftFunctions.registerAll(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DotProductRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
    }
    spark
  }
}
