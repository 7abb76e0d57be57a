package graft

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** Counts the Spark jobs a block of spec code starts. */
object SpecJobs {
  private val Tag = "graft.spec.jobTag"

  /** The Spark jobs `body` starts on this thread, and its result. Jobs
    * are told apart by a local property they inherit; a marker job run
    * after `body` drains the listener bus, which delivers events in
    * post order. */
  def runBy[T](spark: SparkSession)(body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val drain = tag + "-drain"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(seen.put)
    }
    def tagged[R](t: String)(f: => R): R = {
      val prev = sc.getLocalProperty(Tag)
      sc.setLocalProperty(Tag, t)
      try f finally sc.setLocalProperty(Tag, prev)
    }
    sc.addSparkListener(listener)
    try {
      val result = tagged(tag)(body)
      tagged(drain)(sc.parallelize(Seq(1), 1).count())
      var jobs = 0
      var last = ""
      while (last != drain) {
        last = Option(seen.poll(10, TimeUnit.SECONDS))
          .getOrElse(fail("the listener never saw the marker job"))
        if (last == tag) jobs += 1
      }
      (jobs, result)
    } finally sc.removeSparkListener(listener)
  }
}
