package graft.ops

/** Sizing arithmetic the engine applies itself (spec-checked in
  * `TuningSpec`): the pass count of the near-dup shared-counts build
  * ([[pairShardPasses]], called by [[graft.analytics.Dedup]]) and the
  * local bench's shuffle width ([[benchWidth]], called by [[graft.Bench]]).
  */
object Tuning {

  val MiB: Long = 1L << 20
  val GiB: Long = 1L << 30

  /** Measured scratch-disk high-water per candidate pair in the
    * near-dup shared-counts build (shuffle files + the per-pass
    * aggregate's spill, compressed): the round-11 ×1000 run put ~1.266B
    * pairs through a 4-pass build with a measured ≤30 GB sawtooth —
    * ≈95 bytes of peak scratch per pair-per-pass; 96 rounds to a power
    * of two. Conservative by construction (the measurement is a
    * high-water, not an average). */
  val PairScratchBytesPerPair: Long = 96L

  /** [[PairScratchBytesPerPair]] for the round-16 PACKED pair rows: the
    * pair shuffle now carries 2 longs (`doc_id·2²⁰ + n` per side, ids
    * bounded by `Long.MaxValue / 2²⁰`; 24-byte
    * UnsafeRows) instead of 4 (40 bytes) — 0.6× the measured 96 B/pair
    * high-water is 57.6, rounded up to 64 for margin (the constant is a
    * high-water bound, so rounding must go up). Verified at ×1000: the
    * 3-pass build (422M pairs/pass) stays inside the same 30 GB budget
    * the 4-pass unpacked build needed. */
  val PackedPairScratchBytesPerPair: Long = 64L

  /** Pass count for the pair-space-sharded shared-counts build
    * ([[graft.analytics.Dedup]]): the number of disjoint a-side shards
    * needed so one pass's pair shuffle fits the per-host scratch budget.
    *
    * `scratchBudgetBytes <= 0` means scratch is not a bottleneck — the
    * cluster case, where shuffle scratch is an aggregate resource sized
    * with the fleet — and the build runs ONE pass (no sharding, no
    * inter-pass hygiene). A positive budget is the single-host case
    * (e.g. this sandbox's ~30 GB effective headroom): passes =
    * ceil(pairCount × bytes/pair ÷ budget), capped at `maxPasses`
    * because each pass rescans the full cached posting list (CPU ∝
    * passes) — past the cap, more scratch is the answer, not more
    * passes. */
  def pairShardPasses(pairCount: Long, scratchBudgetBytes: Long,
                      maxPasses: Int = 8,
                      bytesPerPair: Long = PairScratchBytesPerPair): Int = {
    require(pairCount >= 0, "pairCount must be non-negative")
    require(maxPasses >= 1, "maxPasses must be >= 1")
    require(bytesPerPair >= 1, "bytesPerPair must be >= 1")
    if (scratchBudgetBytes <= 0L) 1
    else {
      val perPass = math.max(1L, scratchBudgetBytes / bytesPerPair)
      val needed = (pairCount + perPass - 1) / perPass
      math.max(1L, math.min(needed, maxPasses.toLong)).toInt
    }
  }

  /** Local-bench shuffle width for a run over `inputBytes` of source
    * data on `cores` cores: the size-driven partition count (worst-case
    * single-query shuffle ≈ input bytes — the measured ×1000 ratio for
    * the suite's shuffle-heaviest relational queries; the pair build
    * sizes its own width off posting count and is excluded), rounded UP
    * to a whole number of `cores`-wide scheduler waves so every wave
    * runs full — floored at ONE full wave, not 2 tasks per core: that
    * floor smooths task skew on cluster-scale scans, but a local point whose data needs fewer than `cores`
    * partitions is latency-bound and extra waves are pure scheduling
    * overhead (measured: the 120-query suite at sf0.1 runs 54 s at one
    * wave vs 64 s at two). ×1000 (~17 GB of source parquet, 32 cores)
    * → 128, the width the round-11 robustness runs proved. */
  def benchWidth(inputBytes: Long, cores: Int): Int = {
    require(inputBytes >= 0 && cores > 0)
    val bySize = (inputBytes + 128 * MiB - 1) / (128 * MiB)
    val waves = math.max(1L, (bySize + cores - 1) / cores)
    (waves * cores).min(Int.MaxValue).toInt
  }
}
