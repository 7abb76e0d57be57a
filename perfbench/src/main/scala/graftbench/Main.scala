package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.collection.mutable

/** JVM side of the graft benchmark (run.py launches it).
  *
  * Drives graft only through its public entry points: `GraftSession`,
  * the shared-table builders listed in `Bench.warmups`,
  * `SparkEntry.queries`, `Dataset.queryExecution`, and one result
  * action per query. Every step is recorded; run.py turns the records
  * into metrics and checks the results against the expected
  * fingerprints.
  *
  * A run is a set-up (session start, first parquet read, `warm`
  * untimed rounds, numbered -1, -2, ...), then `rounds` measured
  * rounds numbered from 0. Queries of every round are recorded.
  * A round runs one unit per client concurrently and joins them: a
  * unit is one pass over the query list in an order drawn from the
  * seed, and with `reports` it is a report — a fresh graft session
  * that builds the shared tables, runs the pass, then evicts the
  * session's cache. With `trace`, rounds alternate between untraced
  * and traced (listener and spans on), so one run gives the per-layer
  * numbers and the tracing overhead. */
object Main {
  final case class Conf(dataDir: String, cpus: Int, queries: Seq[String],
      tables: Seq[String], reports: Boolean, clients: Int, seed: Long,
      rounds: Int, trace: Boolean, warm: Int, out: String)

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(",").filter(_.nonEmpty).toSeq
    Conf(kv("data-dir"), kv("cpus").toInt, list("queries"), list("tables"),
      kv("reports") == "1", kv("clients").toInt, kv("seed").toLong,
      kv("rounds").toInt, kv("trace") == "1", kv("warm").toInt, kv("out"))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val conf = parse(args)
    val unknown = (conf.queries.filterNot(graft.SparkEntry.queries.contains) ++
      conf.tables.filterNot(t => graft.Bench.warmups.exists(_._1 == t)))
    require(unknown.isEmpty, s"unknown queries or shared tables: ${unknown.mkString(", ")}")
    val out = new Driver(conf).run(jvmStartMs)
    Files.writeString(Paths.get(conf.out),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
  }

  /** The result action: one job that hashes every output column and
    * returns (row count, order-insensitive content hash). */
  def fingerprint(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case ArrayType(e, _) => hasMap(e)
      case StructType(fs) => fs.exists(f => hasMap(f.dataType))
      case _ => false
    }
    // xxhash64 rejects maps; their JSON text carries the same content
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)).as("rows"), sum(col("h").cast("decimal(38,0)")).as("hash"))
  }
}

/** One run of one workload; see [[Main]]. */
final class Driver(conf: Main.Conf) {
  import Main._

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private val jitBean = ManagementFactory.getCompilationMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
  /** JIT compiler seconds and GC pause seconds so far. */
  private def jitGcS: (Double, Double) =
    (jitBean.getTotalCompilationTime / 1e3, gcBeans.map(_.getCollectionTime).sum / 1e3)
  private def nowS: Double = System.nanoTime() / 1e9

  private var base: SparkSession = _
  private var tracer: Tracer = _
  private val clientSessions = mutable.Map.empty[Int, SparkSession]
  private val queryRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val unitRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var runStart = 0.0

  /** A fresh graft session over the running SparkContext: what
    * `GraftSession.local` installs, on a session of its own. */
  private def openSession(): SparkSession = {
    val s = base.newSession()
    graft.functions.GraftFunctions.registerAll(s)
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
    s
  }

  /** Times `body`; inside a traced round it is also a span, passed to
    * `body`, that owns the jobs `body` starts. Untraced, the span is null. */
  private def timed[T](parent: Span, layer: String, name: String)(body: Span => T): (Double, Span, T) = {
    val t0 = nowS
    if (parent == null) { val r = body(null); (nowS - t0, null, r) }
    else { val (s, r) = tracer.within(parent, layer, name)(body); (nowS - t0, s, r) }
  }

  private def runQuery(s: SparkSession, name: String, unitSpan: Span,
      round: Int, client: Int): Unit = {
    val rec = mutable.Map[String, Any]("round" -> round, "client" -> client,
      "name" -> name, "start_s" -> (nowS - runStart), "ok" -> false)
    val (wall, qspan, _) = timed(unitSpan, "query", name) { q =>
      try {
        val (buildS, _, df) = timed(q, "operators", "build")(_ =>
          graft.SparkEntry.queries(name)(s, conf.dataDir))
        val fp = fingerprint(df)
        val (planS, _, _) = timed(q, "plans", "plan")(_ => fp.queryExecution.executedPlan)
        val (actionS, _, row) = timed(q, "exec", "action")(_ => fp.collect()(0))
        def phase(qe: org.apache.spark.sql.execution.QueryExecution, p: String) =
          qe.tracker.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        rec ++= Seq("build_s" -> buildS, "plan_s" -> planS, "action_s" -> actionS,
          "analysis_s" -> (phase(df.queryExecution, "analysis") + phase(fp.queryExecution, "analysis")),
          "optimization_s" -> phase(fp.queryExecution, "optimization"),
          "planning_s" -> phase(fp.queryExecution, "planning"),
          "rows" -> row.getLong(0),
          "hash" -> Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
          "ok" -> true)
        if (q != null) q.add("rows_out", row.getLong(0).toDouble)
      } catch {
        case e: Throwable =>
          rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    rec("wall_s") = wall
    if (qspan != null) rec("span") = qspan.id
    synchronized(queryRecs += rec.toMap)
  }

  private def unit(round: Int, client: Int, unitSpan: Span): Unit = {
    val order = new scala.util.Random(conf.seed * 1000003L + round * 7919L + client)
      .shuffle(conf.queries)
    val s =
      if (conf.reports) timed(unitSpan, "GraftSession", "open")(_ => openSession())._3
      else synchronized(clientSessions.getOrElseUpdate(client, openSession()))
    var buildS = 0.0
    if (conf.reports) conf.tables.foreach { t =>
      val fn = graft.Bench.warmups.find(_._1 == t).get._2
      buildS += timed(unitSpan, "DfCache", t)(_ => fn(s, conf.dataDir).count())._1
    }
    order.foreach(runQuery(s, _, unitSpan, round, client))
    if (conf.reports) graft.util.DfCache.evict(s)
    val storage = s.sparkContext.getRDDStorageInfo.filter(_.isCached)
    synchronized(unitRecs += Map("round" -> round, "client" -> client,
      "dfcache_build_s" -> buildS,
      "mem_bytes" -> storage.map(_.memSize).sum, "disk_bytes" -> storage.map(_.diskSize).sum,
      "rdds_live" -> storage.length))
  }

  /** One round: a unit per client, concurrently, joined. Returns the
    * round's wall and process-CPU seconds, and the JIT compiler and
    * GC pause seconds spent in it. */
  private def round(index: Int, traced: Boolean, parent: Span): Map[String, Any] = {
    val sc = base.sparkContext
    if (traced) sc.addSparkListener(tracer)
    val span = if (traced) tracer.open(parent, "round", s"round $index") else null
    val (t0, c0, (j0, g0)) = (nowS, cpuS, jitGcS)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until conf.clients).map { c =>
      new Thread(() => {
        val us = if (traced) tracer.open(span, "unit", if (conf.reports) s"report $c" else s"pass $c") else null
        try unit(index, c, us) catch { case e: Throwable => errors.add(e) }
        finally if (us != null) tracer.close(us)
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (j1, g1) = jitGcS
    val r = Map[String, Any]("round" -> index, "traced" -> traced, "wall_s" -> (nowS - t0),
      "cpu_s" -> (cpuS - c0), "jit_s" -> (j1 - j0), "gc_s" -> (g1 - g0))
    if (traced) { tracer.close(span); tracer.drain(); sc.removeSparkListener(tracer) }
    if (!errors.isEmpty) throw errors.peek()
    r
  }

  def run(jvmStartMs: Long): Map[String, Any] = {
    val t0 = nowS - (System.currentTimeMillis() - jvmStartMs) / 1e3
    runStart = t0
    val (startS, _, spark) = timed(null, "GraftSession", "start")(_ =>
      graft.GraftSession.local(conf.cpus, conf.cpus))
    base = spark
    graft.sources.Tables.load(base, conf.dataDir, "nation").count()
    // warm rounds are untimed but their results are kept and checked
    val warm = (1 to conf.warm).map(k => round(-k, traced = false, null))
    val setupS = nowS - t0
    tracer = if (conf.trace) new Tracer(base.sparkContext) else null
    val runSpan = if (conf.trace) tracer.open(null, "run", "run") else null
    val measureStart = nowS
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (i <- 0 until conf.rounds) {
      // traced runs alternate U T T U U T T U ... so drift within the run
      // falls on both sides
      val traced = conf.trace && (i % 4 == 1 || i % 4 == 2)
      rounds += round(i, traced, runSpan)
    }
    val measuredS = nowS - measureStart
    if (runSpan != null) tracer.close(runSpan)
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(0L)
    val result = Map[String, Any](
      "setup_s" -> setupS, "start_s" -> startS, "measured_s" -> measuredS,
      "cores" -> base.sparkContext.defaultParallelism,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "peak_rss_kb" -> hwmKb, "warm_rounds" -> warm.toList, "rounds" -> rounds.toList,
      "queries" -> queryRecs.toList, "units" -> unitRecs.toList,
      "spans" -> (if (tracer == null) Nil else tracer.snapshot.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "counts" -> s.counts.toMap)
      }))
    base.stop()
    result
  }
}
