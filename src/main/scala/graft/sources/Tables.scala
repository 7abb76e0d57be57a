package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the engine's table layout: one parquet per table under a
  * scale-factor directory. Scans stay declarative so Catalyst pushes
  * filters/projections into the parquet reader (verified in
  * `PlanSpec`): at 100 TB the scan is the dominant cost and pruning is
  * the first lever.
  *
  * Schema memo: a schema-less `spark.read.parquet` infers the schema
  * with a one-task footer job on every call, and every query build
  * loads its tables afresh. So `load` resolves each table version's
  * schema once per JVM and reads through `spark.read.schema(s)`, which
  * runs no job. The key is the qualified path, the (path, length,
  * mtime) of every leaf file under it (the file itself for a
  * single-file table), and the session's explicitly set
  * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` settings
  * (binaryAsString, nanosAsLong, ...): a rewritten table gets a new key,
  * and a session whose parquet settings differ gets its own schema. A
  * rewrite that keeps every file's length and millisecond mtime is not
  * seen; `load`'s inputs are immutable scale-factor tables, which is
  * why only `Tables` reads through the memo — `TableIO` rewrites its
  * paths in place (`compactParquet`, `upsertCompact`), and the
  * streaming and checkpoint re-reads keep plain reads. The lookup, the
  * inference on a miss and the `putIfAbsent` run without a lock:
  * threads racing on a cold key may both infer, which is harmless.
  *
  * Side effect: loading `events` sets
  * `spark.sql.legacy.parquet.nanosAsLong=true` on the caller's session
  * conf and leaves it set (see `microsTs`). Every later parquet read
  * in that session, a user's own included, reads TIMESTAMP(NANOS)
  * columns as raw longs, and because the setting is part of the memo
  * key, a table loaded both before and after the session's first
  * events load has its schema inferred twice.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      microsTs(parquet(spark, s"$dir/$name.parquet"))
    } else parquet(spark, s"$dir/$name.parquet")

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; read under `nanosAsLong` as raw int64 nanos and
    * convert (the data carries no sub-microsecond precision, so this is
    * lossless and matches DuckDB's microsecond timestamps exactly).
    * Schema-matched rather than assumed: whether the legacy conf applies
    * at schema inference depends on the launch path (sbt-forked JVMs
    * see int64, a bare `java` launch resolves TIMESTAMP_NTZ), and both
    * convert to the same session-TZ-free microsecond timestamps. */
  private[sources] def microsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }

  private final case class SchemaKey(
      root: String, leaves: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** `spark.read.parquet(path)`, with the schema inferred only on the
    * first read of this table version under these parquet settings. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case Some(key) =>
        val known = schemas.get(key)
        if (known != null) spark.read.schema(known).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.putIfAbsent(key, df.schema)
          df
        }
      case None => spark.read.parquet(path) // missing: Spark's own error
    }

  // getFileStatus/listStatus, not listFiles: listFiles wraps every
  // leaf in a LocatedFileStatus, whose constructor reads the file's
  // permission, and the local file system answers that by forking
  // `ls -ld` (one process per load). These statuses load no permission.
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val top = try Some(fs.getFileStatus(root)) catch { case _: FileNotFoundException => None }
    top.map { st =>
      def leaves(s: FileStatus): Seq[(String, Long, Long)] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves)
        else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
      val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted
      SchemaKey(root.toString, leaves(st).sorted, conf)
    }
  }

  /** Register every table as a temp view (for the SQL-facing API). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
