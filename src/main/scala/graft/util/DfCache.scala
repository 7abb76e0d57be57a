package graft.util

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
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
  private val broadcasts = new java.util.HashMap[(SparkSession, String, String), Broadcast[_]]()
  private val listening = new java.util.HashSet[SparkContext]()

  /** Frees every entry of one context's sessions when that context
    * stops. It holds the context only, never a session: sessions come
    * and go (one per report), the context outlives them all. NOTE it
    * fires on APPLICATION end, not on an individual session close — a
    * long-lived server multiplexing many short-lived sessions over one
    * context must call [[evict]](session) from its own session-close
    * path; the listener alone only guarantees cleanup at context
    * shutdown. */
  private[graft] final class Evictor(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      DfCache.synchronized {
        sessions.filter(_.sparkContext eq sc).foreach(evict)
        listening.remove(sc)
      }
  }

  // One [[Evictor]] per context, registered with its first entry.
  // Callers hold the lock.
  private def hook(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (listening.add(sc)) sc.addSparkListener(new Evictor(sc))
  }

  /** The sessions that own at least one entry. */
  private[graft] def sessions: Set[SparkSession] = synchronized {
    (cache.keySet.asScala.iterator ++ broadcasts.keySet.asScala.iterator).map(_._1).toSet
  }

  // Coarse reentrant lock, NOT ConcurrentHashMap.computeIfAbsent:
  // builds nest (pagerank's build caches the edge+degree table on the
  // same map) and computeIfAbsent throws "Recursive update" when the
  // nested insert lands in the same bin. Most builds only construct a
  // plan and mark it persisted, but a loop-derived entry (pagerank
  // ranks, cc_converged, lpa_labels) runs its rounds' jobs inside
  // `build`, and every other session's cache call waits behind them.
  // Work that only produces a value therefore runs outside the lock:
  // the BFS level counts and the [[broadcastOnce]] builds.
  def cached(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    synchronized {
      hook(spark)
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

  /** A driver-built value broadcast once per (session, dir, name) and
    * destroyed by [[evict]]. `build` runs outside the lock (it may run
    * jobs); when two threads race, the first insert wins and the loser
    * destroys its own copy. */
  def broadcastOnce[T: ClassTag](spark: SparkSession, dir: String, name: String)(
      build: => T): Broadcast[T] = {
    val key = (spark, dir, name)
    val hit = synchronized { hook(spark); broadcasts.get(key) }
    if (hit != null) hit.asInstanceOf[Broadcast[T]]
    else {
      val b = spark.sparkContext.broadcast(build)
      val won = synchronized(broadcasts.putIfAbsent(key, b))
      if (won == null) b
      else { b.destroy(); won.asInstanceOf[Broadcast[T]] }
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

  /** Drop (and best-effort unpersist or destroy) every entry of one
    * session. */
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
    val bit = broadcasts.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      if (e.getKey._1 eq spark) {
        try e.getValue.destroy() catch { case _: Throwable => () }
        bit.remove()
      }
    }
  }
}
