package graft.util

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` key, declared once: six size gates and the
  * checkpoint root. A gated operator has two regimes: the fast one at
  * or under the cap, and the over-cap one, the only one that exists at
  * 100 TB (the per-operand broadcast-or-partition rule). A cap is a
  * session conf so that a deployment can size it to its driver heap
  * and a spec can force the over-cap branch at gate scale (cap 0).
  * `AbProbe`'s `GRAFT_AB_CONF` and `ScaleTrail`'s `key=value` args
  * reject any other `spark.graft.*` key ([[checked]]). */
object Regimes {
  /** `overCap`: what runs once the measured size, in `unit`, passes
    * the session's cap ([[apply]], `default` when unset). */
  final case class Gate(key: String, default: Long, unit: String, overCap: String) {
    def apply(spark: SparkSession): Long = spark.conf.getOption(key).fold(default)(parse)

    private[Regimes] def parse(value: String): Long =
      try value.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key=$value: a size gate takes a whole number of $unit")
      }
  }

  // under the cap: kcorePeel broadcasts its alive set (two longs per
  // row), bfsLevels the CSR (4 B per edge + 12 B per node, V ≤ E on
  // sym): ≤128 MB either way
  val GraphBroadcastCap = Gate("spark.graft.graph.broadcastCap", 8000000L, "sym rows",
    "kcorePeel's per-round AQE shuffle peel; bfsLevels' per-hop shuffle hops")
  // under both driver caps: a primitive-array collect on the driver
  // (g40's seed component, g45's post-trim core, a g46 round's picks);
  // g45's core goes through `Csr.of`: about 8 B per edge collected,
  // 4 B per edge plus 12 B per node kept (≈0.35 GB transient at the
  // caps), sized for a 4 GB driver
  val DriverNodeCap = Gate("spark.graft.graph.driverNodeCap", 4000000L, "nodes",
    "g40's distributed double sweep; g45's distributed FW-BW; g46's distributed round")
  val DriverEdgeCap = Gate("spark.graft.graph.driverEdgeCap", 16000000L, "edges",
    "g40's distributed double sweep; g45's distributed FW-BW")
  // g33 peel: delta rounds after tiny waves, in-memory round
  // checkpoints, broadcast decrements
  val TrussDeltaWaveCap = Gate("spark.graft.truss.deltaWaveCap", 1024L, "wave edges",
    "the next round re-enumerates every surviving edge's support")
  val TrussMemCkptCap = Gate("spark.graft.truss.memCkptCap", 16000000L, "round-0 edges",
    "each round is written to and re-read from parquet under the checkpoint root")
  val TrussDeltaDecBroadcastCap = Gate("spark.graft.truss.deltaDecBroadcastCap", 1000000L,
    "decrement rows", "the decrement is shuffle-joined")

  val gates: Seq[Gate] = Seq(GraphBroadcastCap, DriverNodeCap, DriverEdgeCap,
    TrussDeltaWaveCap, TrussMemCkptCap, TrussDeltaDecBroadcastCap)

  /** Root of `GraphOps.checkpointRoot`: a path, not a gate. */
  val CheckpointDir = "spark.graft.checkpointDir"

  private val byKey: Map[String, Gate] = gates.map(g => g.key -> g).toMap

  /** `confs`, after rejecting an unknown `spark.graft.*` key (a removed
    * or misspelled key would otherwise measure the default) and a gate
    * value that is not a whole number. */
  def checked(confs: Seq[(String, String)]): Seq[(String, String)] = {
    confs.foreach { case (k, v) =>
      require(!k.startsWith("spark.graft.") || k == CheckpointDir || byKey.contains(k),
        s"unknown key $k; known: ${(gates.map(_.key) :+ CheckpointDir).mkString(", ")}")
      byKey.get(k).foreach(_.parse(v))
    }
    confs
  }
}
