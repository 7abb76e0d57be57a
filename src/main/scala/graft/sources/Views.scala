package graft.sources

import org.apache.spark.sql.SparkSession

/** Temp-view registration for pure-SQL users.
  *
  * Together with `spark.sql.extensions=graft.functions.GraftExtensions`
  * (native functions + rewrite rules), this is the no-Scala entry
  * point: register once, then every derived table the operators build
  * — the raw star schema, the symmetric graph edges, shingle/minhash
  * features, embedding features/bands — is queryable from SQL, served
  * by the same session-cached, partition-aligned DataFrames the
  * operator API uses (not rebuilt per query).
  */
object Views {

  /** Register the raw tables under `graft_<name>` plus the shared
    * derived tables under `graft_graph_edges`, `graft_shingles`,
    * `graft_emb_features`, `graft_emb_bands`. */
  def register(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.registerAll(spark)
    Tables.all.foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(s"graft_$t")
    }
    graft.operators.graph.GraphTables.sym(spark, dir)
      .createOrReplaceTempView("graft_graph_edges")
    graft.operators.dedup.DedupOps.shingleFeatures(spark, dir)
      .createOrReplaceTempView("graft_shingles")
    graft.operators.vector.VectorExprs.embFeatures(spark, dir)
      .createOrReplaceTempView("graft_emb_features")
    graft.operators.vector.VectorExprs.embBands(spark, dir)
      .createOrReplaceTempView("graft_emb_bands")
  }
}
