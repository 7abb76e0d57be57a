package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** DfCache's hold on sessions: one eviction listener per context, and
  * nothing of a session left once it is evicted or its context stops.
  * A report-per-session caller opens a fresh session per report over
  * one long-lived context, so anything kept per session grows without
  * bound. */
class DfCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(threads = 2, shufflePartitions = 2)

  override def afterAll(): Unit = spark.stop()

  /** DfCache's listeners on the context's listener bus. */
  private def evictors(sc: SparkContext): Seq[DfCache.Evictor] = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
      .collect { case e: DfCache.Evictor => e }
  }

  private def fill(s: SparkSession): Unit = {
    DfCache.cached(s, "/dfcachespec", "t")(s.range(10).toDF("id")).count()
    DfCache.broadcastOnce(s, "/dfcachespec", "b")(Array(1L, 2L))
  }

  test("20 open-and-evict cycles leave one listener and no evicted session") {
    val opened = (1 to 20).map { _ =>
      val s = spark.newSession()
      fill(s)
      assert(DfCache.sessions.contains(s))
      DfCache.evict(s)
      s
    }
    val listeners = evictors(spark.sparkContext)
    assert(listeners.size == 1)
    assert(!listeners.head.getClass.getDeclaredFields
      .exists(f => classOf[SparkSession].isAssignableFrom(f.getType)),
      "the listener must not hold a session")
    val held = DfCache.sessions
    assert(opened.forall(s => !held.exists(_ eq s)))
  }

  test("stopping the context evicts the sessions still holding entries") {
    val live = Seq(spark.newSession(), spark.newSession())
    live.foreach(fill)
    assert(live.forall(s => DfCache.sessions.exists(_ eq s)))
    spark.stop()
    val held = DfCache.sessions
    assert(live.forall(s => !held.exists(_ eq s)))
  }
}
