package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.graph.GraphTables
import graft.util.DfCache

/** Fresh sessions of one `GraftSession.local` context share Catalyst's
  * generated code (artifact isolation off, see `GraftSession`), and
  * still keep their own SQL semantics. */
class SessionCodegenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 2, shufflePartitions = 2)

  override def afterAll(): Unit = spark.stop()

  /** What a report does: a fresh session, the `graph_sym` build, then g6. */
  private def report(s: SparkSession): Long = {
    GraphTables.sym(s, dir).count()
    val n = SparkEntry.queries("g6_bfs_khop")(s, dir).collect().length
    DfCache.evict(s)
    n
  }

  private def compiles[T](body: => T): (Long, T) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, r)
  }

  test("a second fresh session compiles no class the first one compiled") {
    val a = spark.newSession()
    val b = spark.newSession()
    val (firstCompiles, rowsA) = compiles(report(a))
    val (secondCompiles, rowsB) = compiles(report(b))
    assert(rowsB == rowsA)
    assert(secondCompiles == 0L,
      s"the second session recompiled $secondCompiles classes (first: $firstCompiles)")
  }

  test("a session's ANSI mode holds while another session shares its code") {
    val a = spark.newSession()
    val b = spark.newSession()
    b.conf.set("spark.sql.ansi.enabled", "false")
    // over range(), not a literal table, so the casts run in generated
    // code rather than being folded by the optimizer
    val overflow = "SELECT CAST(id + 9223372036854775806L AS INT) AS i, " +
      "(id + 9223372036854775806L) * 3L AS m FROM range(2)"
    def overflows(s: SparkSession): Boolean =
      try { s.sql(overflow).collect(); false }
      catch {
        case e: Exception =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("OVERFLOW"))
      }
    assert(overflows(a))
    val lax = b.sql(overflow).collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(lax == Set((-2, 9223372036854775802L), (-1, 9223372036854775805L)))
    assert(overflows(a))
  }

  test("a graft native function answers alike in two fresh sessions") {
    val q = "SELECT graft_dot(array(id + 1.5D, 2.0D), array(2.0D, 0.25D)) AS d FROM range(2)"
    val answers = Seq(spark.newSession(), spark.newSession()).map { s =>
      graft.functions.GraftFunctions.registerAll(s)
      s.sql(q).collect().map(_.getDouble(0)).toSet
    }
    assert(answers == Seq(Set(3.5D, 5.5D), Set(3.5D, 5.5D)))
  }
}
