package graft

import graft.ops.Tuning
import org.scalatest.funsuite.AnyFunSuite

class TuningSpec extends AnyFunSuite {

  test("pair-shard passes: no scratch budget means cluster scratch, one pass") {
    // the cluster default: scratch is an aggregate resource, never shard
    assert(Tuning.pairShardPasses(0L, 0L) == 1)
    assert(Tuning.pairShardPasses(1266000000L, 0L) == 1)
    assert(Tuning.pairShardPasses(Long.MaxValue / 2, -1L) == 1)
  }

  test("pair-shard passes size from the scratch budget and cap at maxPasses") {
    val budget30g = 30L * Tuning.GiB
    // the measured round-11 point: ~1.266B pairs, ~30 GB effective
    // headroom -> 4 passes (the empirically proven sawtooth bound)
    assert(Tuning.pairShardPasses(1266000000L, budget30g) == 4)
    // ×100 pair volume fits one pass at the same budget (single-pass
    // shape unchanged at the small points)
    assert(Tuning.pairShardPasses(126600000L, budget30g) == 1)
    // per-pass scratch never exceeds the budget below the cap
    val p = Tuning.pairShardPasses(1266000000L, budget30g)
    assert(1266000000L / p * Tuning.PairScratchBytesPerPair <= budget30g)
    // absurd volume on a tiny budget hits the CPU-protecting cap
    assert(Tuning.pairShardPasses(Long.MaxValue / 256, 1L) == 8)
    assert(Tuning.pairShardPasses(1L, 1L) == 1)
  }

  test("bench width is Tuning's prescription rounded to whole waves") {
    // ×1000 (~17 GB of source parquet on 32 cores) -> the 128 the
    // round-11 robustness runs proved out, derived instead of hand-set
    assert(Tuning.benchWidth(17L * 1000 * 1000 * 1000, 32) == 128)
    // small points floor at ONE full wave — latency-bound, extra waves
    // are scheduling overhead (sf0.1 suite measured 54 s @32 vs 64 s @64)
    assert(Tuning.benchWidth(17L * Tuning.MiB, 32) == 32)
    assert(Tuning.benchWidth(2L * Tuning.GiB, 32) == 32)
    // always a whole number of scheduler waves
    for (b <- Seq(1L * Tuning.GiB, 40L * Tuning.GiB, 300L * Tuning.GiB))
      assert(Tuning.benchWidth(b, 32) % 32 == 0)
  }
}
