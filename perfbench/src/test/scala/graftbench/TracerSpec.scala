package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  test("jobs started during construction are attributed to the calling query") {
    val spark = SparkSession.builder().master("local[2]").appName("tracer-spec").getOrCreate()
    try {
      val sc = spark.sparkContext
      val tracer = new Tracer(sc)
      sc.addSparkListener(tracer)
      val run = tracer.open(null, "run", "run")
      // each client builds a DataFrame whose construction runs a job (as
      // graft's loop operators do), then acts on it
      def client(name: String, constructionJobs: Int): Thread = new Thread(() => {
        tracer.within(run, "query", name) { q =>
          val (_, df) = tracer.within(q, "operators", "build") { _ =>
            (1 to constructionJobs).foreach(_ => sc.parallelize(1 to 100, 2).count())
            spark.range(10).toDF("x")
          }
          tracer.within(q, "exec", "action")(_ => df.collect())
        }
        ()
      })
      val clients = Seq(client("a", 2), client("b", 3))
      clients.foreach(_.start()); clients.foreach(_.join())
      tracer.drain()
      val spans = tracer.snapshot
      val byId = spans.map(s => s.id -> s).toMap
      def owner(job: Span): (String, String) = {
        val phase = byId(job.parent)
        (byId(phase.parent).name, phase.layer)
      }
      val jobs = spans.filter(_.layer == "job")
      val owners = jobs.map(owner).groupBy(identity).map { case (k, v) => k -> v.size }
      assert(owners(("a", "operators")) == 2)
      assert(owners(("b", "operators")) == 3)
      assert(owners.keySet.filter(_._2 == "exec") == Set(("a", "exec"), ("b", "exec")))
      assert(jobs.forall(_.end >= 0))
    } finally spark.stop()
  }
}
