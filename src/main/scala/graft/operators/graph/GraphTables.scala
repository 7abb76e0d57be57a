package graft.operators.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Graph view over the relational star schema.
  *
  * The reference engine (neo-olap) runs directly on a Neo4j
  * node/relationship store (Runner.java:55 resolves NodeManager for
  * node-id ranges). Our Spark-first re-expression derives the graph
  * from the relational tables as two DataFrames: a namespaced vertex
  * id (`key * 8 + typeTag`) and a distinct, symmetrized edge list.
  * Everything downstream (walks, PageRank, BFS) is a declarative plan
  * over these, so edge storage partitions/shuffles like any fact
  * table — at 100 TB the edge list is just another parquet dataset
  * bucketed by `src`.
  *
  * Tags: 0=customer 1=order 2=part 3=supplier 4=nation 5=region.
  */
object GraphTables {

  /** One derivation branch: rows of `table` contribute the edge
    * (srcCol·8+srcTag) → (dstCol·8+dstTag). THE single source of
    * truth for the graph's topology — the Scala builders ([[sym]],
    * [[weightedEdges]]) and the DuckDB CTE strings ([[symSqlCtes]],
    * [[wedgeSqlCtes]]) are all generated from this list, so the
    * unweighted and weighted graphs (and their oracles) cannot
    * silently diverge over different branch sets. */
  private case class EdgeBranch(table: String,
      srcCol: String, srcTag: Int, dstCol: String, dstTag: Int)

  private val Branches = Seq(
    EdgeBranch("orders", "o_custkey", 0, "o_orderkey", 1),
    EdgeBranch("lineitem", "l_orderkey", 1, "l_partkey", 2),
    EdgeBranch("lineitem", "l_partkey", 2, "l_suppkey", 3),
    EdgeBranch("customer", "c_custkey", 0, "c_nationkey", 4),
    EdgeBranch("supplier", "s_suppkey", 3, "s_nationkey", 4),
    EdgeBranch("nation", "n_nationkey", 4, "n_regionkey", 5))

  /** The part→supplier branch — the one with heavy duplication at
    * scale (each pair recurs once per lineitem), special-cased by
    * [[sym]]'s two-exchange build. */
  private val PsBranch = Branches(2)

  private def vid(c: org.apache.spark.sql.Column, tag: Int) =
    c.cast("long") * 8 + tag

  /** The `(src, dst)` rows of `branches`, and with `both` each row's
    * reverse too, reading each distinct table ONCE: one scan per table
    * emits all of its pairs through one `inline(array(struct…))`.
    *
    * Why one scan: Catalyst plans each union child as a scan of its own,
    * so a union of per-branch, per-direction projections read a table
    * once per branch and direction (sym planned 12 scans of 5 tables).
    * At graft's table sizes a scan costs more than the rows it reads:
    * Spark broadcasts the session's whole Hadoop conf once per scan
    * (over a thousand properties, `yarn-default` and `mapred-default`
    * entries included, which a parquet read never uses), and each scan
    * adds a codegen subtree and an AQE stage input.
    *
    * Why once per exchange path: [[sym]] feeds two exchanges (the
    * part→supplier pre-dedup and the layout repartition) and calls
    * this once for each, so lineitem is read twice there and [[sym]]'s
    * two-exchange argument is unchanged. */
  private def edgeRows(spark: SparkSession, dir: String,
      branches: Seq[EdgeBranch], both: Boolean): DataFrame =
    branches.map(_.table).distinct.map { t =>
      val pairs = for {
        b <- branches if b.table == t
        (s, d) = (vid(col(b.srcCol), b.srcTag), vid(col(b.dstCol), b.dstTag))
        (x, y) <- if (both) Seq(s -> d, d -> s) else Seq(s -> d)
      } yield struct(x.as("src"), y.as("dst"))
      Tables.load(spark, dir, t).select(inline(array(pairs: _*)))
    }.reduce(_.union(_))

  private def branchSql(b: EdgeBranch, distinct: Boolean, aliased: Boolean): String = {
    val d = if (distinct) "DISTINCT " else ""
    val (a1, a2) = if (aliased) (" AS src", " AS dst") else ("", "")
    s"SELECT ${d}CAST(${b.srcCol}*8+${b.srcTag} AS BIGINT)$a1, " +
      s"CAST(${b.dstCol}*8+${b.dstTag} AS BIGINT)$a2 FROM ${b.table}"
  }

  /** DuckDB CTE text equivalent of [[sym]]; prefix for graph oracles. */
  lazy val symSqlCtes: String =
    s"""base AS (
       |  ${branchSql(Branches.head, distinct = true, aliased = true)}
       |  ${Branches.tail.map(b => "UNION ALL " + branchSql(b, distinct = true, aliased = false)).mkString("\n  ")}),
       |edges AS (SELECT DISTINCT src, dst FROM base),
       |sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges)""".stripMargin

  /** Symmetrized distinct adjacency (both directions), cached once per
    * (session, dir) — every graph query reuses the same persisted copy.
    *
    * Built with exactly TWO exchanges:
    *  1. the part→supplier branch — the one branch with heavy
    *     duplication at scale (each (part, supplier) pair recurs once
    *     per lineitem, ~|lineitem|/|partsupp| ≈ 7×) — is symmetrized
    *     FIRST and deduped ONCE (map-side combine shrinks the shuffle
    *     to ~distinct volume; deduping per direction would shuffle the
    *     duplicate-heavy stream twice);
    *  2. one layout repartition by `src` over the full union.
    * Each path reads its tables once ([[edgeRows]]): six scans in all.
    * The final distinct (rare order→part repeats within an order) runs
    * IN PLACE: `HashPartitioning(src)` satisfies the (src, dst)
    * clustering an aggregate needs — equal pairs share a src — so no
    * third exchange appears and the src partitioning is preserved. A
    * last in-partition sort gives the cached layout order.
    *
    * Persisted hash-partitioned AND sorted by `src`: the cached plan's
    * outputPartitioning/outputOrdering survive InMemoryTableScan, so
    * every downstream `groupBy(src)` (degree) and every frontier join
    * on `node = src` (walks, BFS) re-uses this layout with NO exchange
    * and NO re-sort of the edge side — only the small frontier moves.
    * This is the cluster design too: one bucketed edge dataset, all
    * traversal stages co-located on it (the reference's preloaded
    * relationship cache, Preloader.java:16, re-expressed as a stable
    * partitioning). */
  def sym(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "graph_sym") {
      val psBoth = edgeRows(spark, dir, Seq(PsBranch), both = true).distinct()
      edgeRows(spark, dir, Branches.filterNot(_ == PsBranch), both = true)
        .union(psBoth)
        .repartition(col("src"))
        .distinct()
        .sortWithinPartitions(col("src"))
    }

  /** Distinct DIRECTED edges (derivation direction kept — customer →
    * order → part → supplier → nation → region), src-partitioned and
    * sorted like [[sym]]: direction-sensitive operators (HITS hub →
    * authority rounds) join a V-row vector into this layout with no
    * exchange on the edge side. */
  def directed(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "graph_dir") {
      edgeRows(spark, dir, Branches, both = false)
        .repartition(col("src"))
        .distinct()
        .sortWithinPartitions(col("src"))
    }

  /** The SAME directed edge set laid out by `dst` — the reverse-join
    * layout: a round that aggregates INTO src (h ← Σ a[dst]) joins the
    * V-row vector against this copy so only the vector shuffles, never
    * the E-row edge table. Two cached layouts of one dataset is the
    * cluster design too (bucketed-by-src and bucketed-by-dst copies). */
  def directedByDst(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "graph_dir_dst") {
      edgeRows(spark, dir, Branches, both = false)
        .repartition(col("dst"))
        .distinct()
        .sortWithinPartitions(col("dst"))
    }

  /** DuckDB CTE text equivalent of [[weightedEdges]]. */
  lazy val wedgeSqlCtes: String =
    s"""wbase AS (
       |  ${branchSql(Branches.head, distinct = false, aliased = true)}
       |  ${Branches.tail.map(b => "UNION ALL " + branchSql(b, distinct = false, aliased = false)).mkString("\n  ")}),
       |wboth AS (SELECT src, dst FROM wbase UNION ALL SELECT dst, src FROM wbase),
       |wed AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM wboth GROUP BY src, dst),
       |wdeg AS (SELECT src AS wnode, CAST(sum(w) AS BIGINT) AS wsum FROM wed GROUP BY src)""".stripMargin

  /** Edge MULTIPLICITIES as weights: the duplication [[sym]] dedups
    * away (each (part, supplier) pair recurs once per lineitem, each
    * (order, part) once per line) is a genuine intensity signal — a
    * supplier shipping a part 50× is a 50× stronger tie than a
    * one-off. One groupBy over the raw symmetric union (map-side
    * combine shrinks the duplicate-heavy stream to distinct volume —
    * the same shuffle [[sym]]'s dedup pays), per-src weight totals
    * joined in, laid out src-partitioned+sorted like [[GraphOps
    * .edgesWithDeg]] so weighted rounds shuffle only the rank vector. */
  def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    graft.util.DfCache.cached(spark, dir, "graph_wedges") {
      val wed = edgeRows(spark, dir, Branches, both = true)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val wdeg = wed.groupBy(col("src").as("wnode")).agg(sum(col("w")).as("wsum"))
      wed.join(wdeg, col("src") === col("wnode"))
        .select(col("src"), col("dst"), col("w"), col("wsum"))
        .repartition(col("src"))
        .sortWithinPartitions(col("src"))
    }
}
