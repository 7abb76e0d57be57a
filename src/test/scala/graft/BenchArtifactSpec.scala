package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench-artifact quarantine contract (r12 verdict #1).
  *
  * The r12 postmortem: `bench_baseline.json` was guarded against
  * degraded-host overwrite, but `bench_detail.json`/`bench_wire.json`
  * were not — the driver's degraded end-of-round re-run (canary 1.41,
  * steal 3.7 %) overwrote the clean committed close in the working
  * tree and was snapshot-committed. Two invariants close that hole:
  *
  *  1. [[Bench.detailPathFor]]/[[Bench.wirePathFor]] route any
  *     host_degraded-or-failing run to `*_degraded.json` side files.
  *  2. The COMMITTED close files, when present, must say
  *     `host_degraded: false` with an empty `failed` list — so a
  *     degraded run sneaking into the clean files (by any path) turns
  *     the test board red before it can be committed as a close.
  */
class BenchArtifactSpec extends AnyFunSuite {

  test("degraded or failing runs are routed to quarantine side files") {
    assert(Bench.detailPathFor(quarantined = true) === "bench_detail_degraded.json")
    assert(Bench.wirePathFor(quarantined = true) === "bench_wire_degraded.json")
    assert(Bench.detailPathFor(quarantined = false) === "bench_detail.json")
    assert(Bench.wirePathFor(quarantined = false) === "bench_wire.json")
  }

  test("cross-core-count runs never touch the main artifacts (r13 verdict #1)") {
    // an 8-core run reads FASTER than a clean 32-core one on this
    // scheduler-bound board, so it passes the canary; routing by core
    // count is the only thing that keeps it out of the committed close
    assert(Bench.detailPathFor(quarantined = false, crossCpu = true, cpus = 8)
      === "bench_detail_c8.json")
    assert(Bench.wirePathFor(quarantined = false, crossCpu = true, cpus = 8)
      === "bench_wire_c8.json")
    assert(Bench.detailPathFor(quarantined = true, crossCpu = true, cpus = 8)
      === "bench_detail_c8_degraded.json")
    assert(Bench.wirePathFor(quarantined = true, crossCpu = true, cpus = 8)
      === "bench_wire_c8_degraded.json")
    // same-cpus runs keep the original routing
    assert(Bench.detailPathFor(quarantined = false, crossCpu = false, cpus = 32)
      === "bench_detail.json")
    assert(Bench.wirePathFor(quarantined = true, crossCpu = false, cpus = 32)
      === "bench_wire_degraded.json")
  }

  test("a late contention window quarantines the run despite a clean board median") {
    // 40 clean slots then a 20-slot window at 1.5×: the whole-board
    // median stays 1.0, but the end canary and the tail half both fail
    val late = Seq.fill(40)(1.0) ++ Seq.fill(20)(1.5)
    assert(Bench.hostDegraded(canaryStart = 1.0, canaryEnd = 1.5,
      material = late, stealPct = 0.5))
    // the r13 case still stands: a noisy canary with a clean end pass,
    // or with a clean board tail, is outvoted by a clean board
    val clean = Seq.fill(60)(1.0)
    assert(!Bench.hostDegraded(5.84, 1.0, clean, 0.44))
    assert(!Bench.hostDegraded(1.0, 1.5, clean, 0.44))
  }

  private def assertCleanClose(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) { // absent is fine (fresh checkout pre-close)
      val node = new ObjectMapper().readTree(f)
      assert(!node.get("host_degraded").asBoolean(true),
        s"$path is a host_degraded run — degraded closes must live in " +
          "*_degraded.json quarantine files, never replace the clean close")
      val failed = node.get("failed")
      assert(failed != null && failed.size() === 0,
        s"$path records failed queries — not a committable clean close")
      // r13 verdict #1: the driver's trailing 8-core scaling run
      // replaced the 32-core close because nothing recorded the core
      // count; committed closes must now carry cpus = 32 (the driver's
      // main bench core count)
      assert(node.hasNonNull("cpus") && node.get("cpus").asInt() === 32,
        s"$path does not carry cpus:32 — an off-core-count (or pre-r14 " +
          "unstamped) run must never be committed as the clean close")
    }
  }

  test("the committed close files hold a clean quiet-host 32-core run") {
    assertCleanClose("bench_detail.json")
    assertCleanClose("bench_wire.json")
  }

  test("the committed baseline is run_id- and cpus-stamped") {
    val f = new java.io.File("bench_baseline.json")
    if (f.exists()) {
      val node = new ObjectMapper().readTree(f)
      assert(node.hasNonNull("run_id"),
        "bench_baseline.json seeded without a run_id — two clean runs " +
          "at the same sha would be indistinguishable in the provenance chain")
      // r13 verdict #1: an unstamped baseline is how the 8-core run
      // became every later round's comparison point
      assert(node.hasNonNull("cpus") && node.get("cpus").asInt() === 32,
        "bench_baseline.json carries no cpus:32 stamp — a cross-core-count " +
          "run could silently become the comparison reference again")
    }
  }
}
