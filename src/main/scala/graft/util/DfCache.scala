package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache for shared derived tables (edge lists, shingle
  * vectors, vector features).
  *
  * Several operators derive the same intermediate (e.g. the symmetric
  * edge list feeds every graph query; the band table feeds both sides
  * of the LSH self-join). Persisting one copy per (session, dir, name)
  * turns N rebuilds into one build + N cache reads — the Spark analog
  * of the reference's preloaded node/relationship cache
  * (Preloader.java:16 warms the page cache once for all workers).
  * On a cluster this is a MEMORY_AND_DISK-replicated dataset reused
  * across stages instead of recomputed per query.
  */
object DfCache {
  private val cache = new java.util.HashMap[(SparkSession, String, String), DataFrame]()
  private val hooked = new java.util.HashSet[SparkSession]()

  // Coarse reentrant lock, NOT ConcurrentHashMap.computeIfAbsent:
  // builds nest (pagerank's build caches the edge+degree table on the
  // same map) and computeIfAbsent throws "Recursive update" when the
  // nested insert lands in the same bin. Builds are cheap (plan
  // construction + persist marking — no job runs), so one lock is fine.
  def cached(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    synchronized {
      // Eviction hook: frees this map when the underlying context
      // stops. NOTE the listener fires on APPLICATION end, not on an
      // individual session close — a long-lived server multiplexing
      // many short-lived sessions over one context must call
      // [[evict]](session) from its own session-close path; the hook
      // alone only guarantees cleanup at context shutdown.
      if (hooked.add(spark)) {
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            evict(spark)
        })
      }
      val key = (spark, dir, name)
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val built = build
        val df = if (checkpointRdd(built).isDefined) built
          else built.persist(StorageLevel.MEMORY_AND_DISK)
        cache.put(key, df)
        df
      }
    }

  // A localCheckpoint'ed entry is a scan of an RDD that keeps its own
  // blocks: persisting on top would store the rows twice, and
  // unpersisting the DataFrame would leave the checkpoint's blocks.
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => Some(r.rdd)
      case _ => None
    }

  /** Drop (and best-effort unpersist) every entry of one session. */
  def evict(spark: SparkSession): Unit = synchronized {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        val df = e.getValue
        try checkpointRdd(df) match {
          case Some(rdd) => rdd.unpersist(blocking = false)
          case None => df.unpersist(blocking = false)
        } catch { case _: Throwable => () }
        it.remove()
      }
    }
    hooked.remove(spark)
  }
}
