package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions._
import graft.util.Regimes

/** The forced-regime equality every size gate ships with: at gate
  * scale the fast regime always wins, so the over-cap branch (the only
  * one at 100 TB) is checked by equality with the oracle-gated default.
  * `AbProbe.withConfs` restores each forced key's exact prior value. */
object ForcedRegimes {
  type Forced = Seq[(Regimes.Gate, Long)]

  def overCap(gates: Regimes.Gate*): Forced = gates.map(_ -> 0L)

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** The default rows of `run`, after asserting every forced setting
    * yields them too, row for row. `run` is re-evaluated per setting. */
  def agree(spark: SparkSession, tag: String, settings: Forced*)(run: => DataFrame)
      : Seq[Seq[Any]] = {
    val default = rowsOf(run)
    settings.foreach { forced =>
      val confs = forced.map { case (g, v) => g.key -> v.toString }
      val rows = AbProbe.withConfs(spark, confs)(rowsOf(run))
      val how = confs.map { case (k, v) => s"$k=$v" }.mkString(", ")
      assert(default.size == rows.size,
        s"$tag: row count diverged default=${default.size} forced($how)=${rows.size}")
      default.zip(rows).zipWithIndex.foreach { case ((d, f), i) =>
        assert(d == f, s"$tag row $i diverged: default=$d forced($how)=$f")
      }
    }
    default
  }

  /** `agree` for the gated query `query` with every gate in `caps` at 0. */
  def bothPathsAgree(spark: SparkSession, dir: String, query: String,
      caps: Regimes.Gate*): Unit =
    agree(spark, query, overCap(caps: _*))(SparkEntry.queries(query)(spark, dir))
}
