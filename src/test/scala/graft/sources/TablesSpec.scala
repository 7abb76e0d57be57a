package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkEntry, SpecJobs}

/** `Tables.load`'s schema memo: a repeated load runs no Spark job and
  * starts no OS process, reads the same schema and rows as a plain
  * inferred read, and never serves a rewritten table's or another
  * parquet setting's schema. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession.local(threads = 4, shufflePartitions = 4)

  override def afterAll(): Unit = spark.stop()

  /** The plain, schema-inferring read `Tables.load` replaces. */
  private def plainLoad(s: SparkSession, d: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$d/$name.parquet")
    if (name == "events") Tables.microsTs(raw) else raw
  }

  private def tmpDir(): Path = Files.createTempDirectory("graft_tables")

  /** Writes `df` as ONE parquet file at `target` (replacing it). */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val stage = tmpDir().resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Three rows of an un-annotated BINARY column, written without the
    * Spark schema a Spark writer puts in the footer (and that inference
    * would prefer), so `binaryAsString` decides the inferred type. */
  private def writeRawBinary(target: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new HadoopPath(target.toUri)).withType(schema).build()
    try (0 until 3).foreach(i => w.write(rows.newGroup().append("id", i.toLong).append("b", i.toString)))
    finally w.close()
  }

  test("a repeated load runs no Spark job") {
    Tables.load(spark, dir, "orders").schema
    val (n, df) = SpecJobs.runBy(spark)(Tables.load(spark, dir, "orders"))
    assert(n == 0, s"a warm Tables.load ran $n jobs")
    // the counter does see an inferring read's footer job
    val (plain, _) = SpecJobs.runBy(spark)(spark.read.parquet(s"$dir/orders.parquet"))
    assert(plain >= 1, "schema inference should have run a job")
    assert(df.count() > 0)
  }

  test("a warm load starts no OS process") {
    // Hadoop's local file system forks `ls -ld` for any status whose
    // permission is read; the memo key's listing must read none
    Tables.load(spark, dir, "lineitem").schema
    val rec = new Recording()
    val started = try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      Tables.load(spark, dir, "lineitem")
      // the recording does see a process start
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      val file = Files.createTempFile("graft_tables", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
      } finally Files.delete(file)
    } finally rec.close()
    assert(started == Seq("true"), s"processes started by a warm load: $started")
  }

  test("every table: the memoized read equals a plain inferred read") {
    Tables.all.foreach { t =>
      Tables.load(spark, dir, t)
      val (n, memo) = SpecJobs.runBy(spark)(Tables.load(spark, dir, t))
      assert(n == 0, s"$t: warm load ran $n jobs")
      val plain = plainLoad(spark, dir, t)
      assert(memo.schema == plain.schema, t)
      assert(memo.collect().toSeq == plain.collect().toSeq, t)
    }
    val ts = Tables.load(spark, dir, "events").schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType, s"events.ts read as $ts")
  }

  test("a table rewritten at the same path is read with its new schema") {
    val d = tmpDir()
    val v1 = spark.range(5).select(col("id").as("a"))
    val v2 = spark.range(7).select(col("id").as("a"), col("id").cast("string").as("b"))
    // single-file layout: the file itself is replaced
    writeSingleFile(v1, d.resolve("t.parquet"))
    assert(Tables.load(spark, d.toString, "t").schema.fieldNames.toSeq == Seq("a"))
    assert(SpecJobs.runBy(spark)(Tables.load(spark, d.toString, "t"))._1 == 0)
    writeSingleFile(v2, d.resolve("t.parquet"))
    val t2 = Tables.load(spark, d.toString, "t")
    assert(t2.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(t2.orderBy("a").collect().toSeq == v2.orderBy("a").collect().toSeq)
    // directory layout: Spark's own overwrite of the table directory
    v1.write.parquet(d.resolve("u.parquet").toString)
    assert(Tables.load(spark, d.toString, "u").schema.fieldNames.toSeq == Seq("a"))
    v2.write.mode("overwrite").parquet(d.resolve("u.parquet").toString)
    val u2 = Tables.load(spark, d.toString, "u")
    assert(u2.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(u2.count() == 7)
  }

  test("a session with different parquet settings gets its own schema") {
    val d = tmpDir()
    writeRawBinary(d.resolve("bin.parquet"))
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.load(spark, d.toString, "bin").schema("b").dataType == BinaryType)
    assert(Tables.load(asString, d.toString, "bin").schema("b").dataType == StringType)
    // both are memoized now, each under its own settings
    val (n1, again) = SpecJobs.runBy(spark)(Tables.load(spark, d.toString, "bin"))
    val (n2, againStr) = SpecJobs.runBy(spark)(Tables.load(asString, d.toString, "bin"))
    assert(n1 == 0 && n2 == 0)
    assert(again.schema("b").dataType == BinaryType)
    assert(againStr.schema("b").dataType == StringType)
    assert(againStr.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("0", "1", "2"))
  }

  test("loads on 4 threads over 2 sessions all agree") {
    val d = tmpDir()
    // a table no other case has read: the threads race on a cold key
    writeSingleFile(spark.range(11).select(col("id"), (col("id") * 2).as("x")),
      d.resolve("cold.parquet"))
    val sessions = Seq(spark, spark.newSession())
    def schemas(s: SparkSession, load: (SparkSession, String, String) => DataFrame) =
      Tables.all.map(t => load(s, dir, t).schema) :+ load(s, d.toString, "cold").schema
    val pool = Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val runs = Await.result(Future.sequence((0 until 4).map(i =>
        Future(schemas(sessions(i % 2), Tables.load)))), 5.minutes)
      val expected = schemas(spark, plainLoad)
      runs.foreach(r => assert(r == expected))
    } finally pool.shutdown()
  }

  test("query builds over warm tables run no Spark job before the action") {
    val built = Seq("e26_rfm", "q3_join_agg", "q72_prospects", "q47_sketch_algebra")
    built.foreach(q => SparkEntry.queries(q)(spark, dir))
    built.foreach { q =>
      val (n, df) = SpecJobs.runBy(spark)(SparkEntry.queries(q)(spark, dir))
      assert(n == 0, s"$q: building the DataFrame ran $n jobs")
      assert(df.schema.nonEmpty)
    }
  }
}
