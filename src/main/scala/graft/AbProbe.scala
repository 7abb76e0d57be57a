package graft

/** In-session alternating A/B for conf-gated plan regimes — the
  * controlled instrument the r13 verdict asked optimization claims to
  * carry (a min-of-N discipline): one JVM, one
  * warm-up pass, then for each named query GRAFT_PROBE_REPS rounds of
  * [A: session defaults] immediately followed by [B: GRAFT_AB_CONF
  * applied] — alternation cancels host drift that separate
  * before/after JVMs cannot (this host shows 20–30 % burst windows).
  * Prints one JSON line of per-regime rep seconds; read the mins.
  *
  * Usage:
  *   GRAFT_AB_CONF=spark.graft.graph.broadcastCap=0 \
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.AbProbe g20_kcore g35_coreness"
  */
object AbProbe {
  /** `key=value[,key=value...]`; a comma splits only where the next
    * `key=` starts, so a value may itself contain commas. A
    * `spark.graft.*` key must be one of [[graft.util.Regimes]]'s. */
  def parseConfs(spec: String): Seq[(String, String)] =
    graft.util.Regimes.checked(
      spec.split(",(?=[^,=]+=)").toSeq.filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      })

  /** Run `body` with `confs` set, then put back each key's exact prior
    * value — unset only a key that was absent — so a later A rep sees
    * the session's own value, not Spark's built-in default. */
  def withConfs[T](spark: org.apache.spark.sql.SparkSession,
      confs: Seq[(String, String)])(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "3").toInt
    val confs = parseConfs(sys.env.getOrElse("GRAFT_AB_CONF", ""))
    require(confs.nonEmpty, "set GRAFT_AB_CONF=key=value[,key=value...]")
    val names = if (args.nonEmpty) args.toSeq else sys.error("pass query names")
    val spark = GraftSession.local(cpus, cpus)
    val hs = new HostStamp(spark)
    Bench.warmups.foreach { case (_, fn) => fn(spark, sfDir).count() }
    def timeOnce(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val results = names.map { n =>
      val a = scala.collection.mutable.ArrayBuffer.empty[Double]
      val b = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to reps).foreach { _ =>
        a += timeOnce(n)
        b += withConfs(spark, confs)(timeOnce(n))
      }
      (n, a.toSeq, b.toSeq)
    }
    def arr(xs: Seq[Double]) =
      xs.map(s => "%.2f".formatLocal(java.util.Locale.ROOT, s)).mkString("[", ",", "]")
    val line = results.map { case (n, a, b) =>
      s""""$n":{"a_default":${arr(a)},"b_conf":${arr(b)}}"""
    }.mkString(
      s"""{"probe":"ab","sf":"$sfDir","conf":"${confs.map { case (k, v) => s"$k=$v" }.mkString(",")}",""",
      ",", hs.stamp() + "}")
    println(line)
    spark.stop()
  }
}
