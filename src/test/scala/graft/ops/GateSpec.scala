package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck laws for the PLANNING GATES — the pure driver-side
  * functions whose thresholds were measured in the scale smokes
  * (paragraph skew escalation, IVF cell/probe formulas, the two-level
  * flip). The scale_smoke_r*.json records hold the measured points
  * (SCALE.md, "Retired probes"); these pin the INVARIANTS
  * over the whole input space, the way PlannerPropertySpec pins the
  * split generators. Raw ScalaCheck (no scalatest bridge offline),
  * `Prop.forAllNoShrink` throughout — shrinking mutates generator
  * invariants (see the repo's ScalaCheck notes).
  */
class GateSpec extends AnyFunSuite {

  private def runProp(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  // corpus sizes with the decision edges over-weighted
  private val genN: Gen[Long] = Gen.frequency(
    3 -> Gen.chooseNum(1L, 20000L),                    // around the 10k fixture gate
    3 -> Gen.chooseNum(20000L, 20000000L),             // around the 16.7M two-level flip
    3 -> Gen.chooseNum(1L, 1000000000000L),            // broad
    1 -> Gen.const(10000L), 1 -> Gen.const(10001L),
    1 -> Gen.const(16777216L), 1 -> Gen.const(16785409L)) // 4096² and (4097)²

  test("paragraph skew gate: monotone in the estimate, flips exactly past the task bound") {
    val genEst = Gen.chooseNum(0.0, 1e12)
    runProp("monotone", Prop.forAllNoShrink(genEst, genEst) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      // more projected hot rows can never flip BACK toward the window plan
      !DedupOps.paragraphSkewDecision(lo) || DedupOps.paragraphSkewDecision(hi)
    })
    runProp("threshold exact", Prop.forAllNoShrink(genEst) { e =>
      DedupOps.paragraphSkewDecision(e) ==
        (e > DedupOps.ParagraphWindowMaxHotRows.toDouble)
    })
    // the 100× projection law the round-9 tier A/B rests on: any corpus
    // whose estimate sits within 100× below the bound escalates at 100×
    runProp("100x projection flips", Prop.forAllNoShrink(
      Gen.chooseNum(DedupOps.ParagraphWindowMaxHotRows.toDouble / 100.0 + 1.0,
        1e12)) { e =>
      DedupOps.paragraphSkewDecision(e * 100.0)
    })
  }

  test("ivf cell count: fixture pin, monotone, √N tracking under the cap") {
    runProp("fixture pin", Prop.forAllNoShrink(Gen.chooseNum(1L, 10000L)) {
      n => AnnOps.ivfCellCount(n) == 16L
    })
    runProp("monotone past the gate", Prop.forAllNoShrink(genN, genN) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      (lo <= 10000L) || AnnOps.ivfCellCount(lo) <= AnnOps.ivfCellCount(hi)
    })
    runProp("capped and √N-tracking", Prop.forAllNoShrink(genN) { n =>
      val k = AnnOps.ivfCellCount(n)
      k <= 4096L && k >= 16L &&
        (n <= 10000L || k >= math.min(4096L, math.floor(math.sqrt(n.toDouble)).toLong))
    })
  }

  test("ivf nprobe: probed fraction never collapses as K grows") {
    val genK = Gen.chooseNum(16L, 4096L)
    runProp("floor", Prop.forAllNoShrink(genK) { k =>
      val np = AnnOps.ivfNprobe(k)
      // the round-9 lesson: fixed nprobe collapsed the probed fraction
      // to 0.6% and recall to 0.10; the law keeps fraction ≥ (K/32−1)/K
      np >= 2 && np * 32L >= k - 31L
    })
    runProp("monotone", Prop.forAllNoShrink(genK, genK) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      AnnOps.ivfNprobe(lo) <= AnnOps.ivfNprobe(hi)
    })
  }

  test("two-level flip: exactly when flat √N exceeds the cap; effective cells keep tracking √N") {
    runProp("flip point", Prop.forAllNoShrink(genN) { n =>
      AnnOps.ivfTwoLevelGate(n) ==
        (math.ceil(math.sqrt(n.toDouble)).toLong > 4096L)
    })
    runProp("per-level cap", Prop.forAllNoShrink(genN) { n =>
      val k1 = AnnOps.ivfCoarseCells(n)
      k1 >= 1 && k1 <= 4096
    })
    // past the flip (and under the two-level envelope ~2.8·10¹⁴),
    // K1·K2 ≥ ⌈√N⌉ — the property the flat cap broke
    runProp("√N tracking past the flip", Prop.forAllNoShrink(
      Gen.chooseNum(16777217L, 280000000000000L)) { n =>
      val k1 = AnnOps.ivfCoarseCells(n).toLong
      k1 * k1 >= math.ceil(math.sqrt(n.toDouble)).toLong
    })
  }

  test("two-level probes: candidate fraction is continuous across the gate flip") {
    // just below the flip the flat law probes nprobe/K = 1/32 of the
    // corpus; the two-level law must land the SAME fraction (within the
    // ceil quantum), not the (k1/32)²/k1² = 1/1024 a naive per-subspace
    // k1/32 would give — recall must not cliff at N ≈ 16.7M
    runProp("fraction ≈ 1/32", Prop.forAllNoShrink(
      Gen.chooseNum(16777217L, 280000000000000L)) { n =>
      val k1 = AnnOps.ivfCoarseCells(n).toLong
      val p = AnnOps.ivfTwoLevelProbes(k1.toInt).toLong
      val fracNum = p * p * 32L // want p²·32 ≥ k1² (fraction ≥ 1/32)…
      fracNum >= k1 * k1 &&
        // …and no more than ~4× over (ceil quantum at small k1; at the
        // k1 floor of 2 cells the fraction is legitimately 1)
        (k1 < 8 || fracNum <= 4L * k1 * k1)
    })
    runProp("monotone in k1", Prop.forAllNoShrink(
      Gen.chooseNum(2, 4096), Gen.chooseNum(2, 4096)) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      AnnOps.ivfTwoLevelProbes(lo) <= AnnOps.ivfTwoLevelProbes(hi)
    })
  }

  test("dup-collapse gate: corpus-share threshold, monotone, fixture/degenerate pins") {
    val genG = Gen.chooseNum(0L, 100000000L)
    runProp("threshold exact", Prop.forAllNoShrink(genG, genN) { (g, n) =>
      AnnOps.dupCollapseGate(g, n) == (g > math.max(64L, n / 8L))
    })
    runProp("monotone in group size", Prop.forAllNoShrink(genG, genG, genN) {
      (a, b, n) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        !AnnOps.dupCollapseGate(lo, n) || AnnOps.dupCollapseGate(hi, n)
    })
    // the 50-member exact-dup groups every organic tier plants never
    // trip it; the degenerate tier's 30% share always does
    runProp("organic groups stay unwrapped", Prop.forAllNoShrink(genN) { n =>
      !AnnOps.dupCollapseGate(50L, n)
    })
    runProp("30% share always wraps", Prop.forAllNoShrink(
      Gen.chooseNum(10000L, 1000000000L)) { n =>
      AnnOps.dupCollapseGate(n * 3 / 10, n)
    })
  }

  test("bloom shard law: ⌈est/cap⌉ shards, monotone; dispatch degrades past the ceiling") {
    val genEst = Gen.chooseNum(1L, 1L << 40)
    runProp("ceiling-division law", Prop.forAllNoShrink(genEst) { est =>
      val n = PipelineOps.bloomShardCount(est)
      n == math.max(1L,
        (est + PipelineOps.BloomShardItemCap - 1) / PipelineOps.BloomShardItemCap)
    })
    runProp("every shard under the aggregate cap", Prop.forAllNoShrink(genEst) {
      est =>
        val n = PipelineOps.bloomShardCount(est)
        est.toDouble / n <= PipelineOps.BloomShardItemCap.toDouble
    })
    runProp("monotone in battery size", Prop.forAllNoShrink(genEst, genEst) {
      (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        PipelineOps.bloomShardCount(lo) <= PipelineOps.bloomShardCount(hi)
    })
    // envelope pins: the fixture tiers and every real battery
    // (10⁵–10⁶ grams) are single-bloom; the 13M synthetic tier's ~20
    // shards sit inside the 32-shard ceiling; past 32 × 4M the dispatch
    // is out of envelope and bloomPrefiltered degrades to keep-all
    assert(PipelineOps.bloomShardCount(1000000L) == 1L)
    assert(PipelineOps.bloomShardCount(78000000L) == 20L)
    val edge = PipelineOps.BloomShardMaxShards * PipelineOps.BloomShardItemCap
    assert(PipelineOps.bloomShardCount(edge) == PipelineOps.BloomShardMaxShards)
    assert(PipelineOps.bloomShardCount(edge + 1) > PipelineOps.BloomShardMaxShards)
  }

  test("cell width cap: salted sub-cells never exceed the cap; no-op under it") {
    val genW = Gen.frequency(
      4 -> Gen.chooseNum(0L, 4L * AnnOps.IvfCellWidthCap),
      3 -> Gen.chooseNum(0L, 1000000000L),
      1 -> Gen.const(AnnOps.IvfCellWidthCap),
      1 -> Gen.const(AnnOps.IvfCellWidthCap + 1L))
    // the law the degenerate-corpus graph rests on: spreading `width` postings
    // over the salt count leaves every (cell, salt) key ≤ cap — even
    // with the worst-case uneven hash spread of +1
    runProp("width cap holds", Prop.forAllNoShrink(genW) { w =>
      val ns = AnnOps.ivfCellSalts(w)
      ns >= 1L && (w + ns - 1L) / ns <= AnnOps.IvfCellWidthCap
    })
    runProp("identity under the cap", Prop.forAllNoShrink(
      Gen.chooseNum(0L, AnnOps.IvfCellWidthCap)) { w =>
      AnnOps.ivfCellSalts(w) == 1L
    })
    runProp("engages exactly past the cap", Prop.forAllNoShrink(genW) { w =>
      (AnnOps.ivfCellSalts(w) > 1L) == (w > AnnOps.IvfCellWidthCap)
    })
    runProp("monotone", Prop.forAllNoShrink(genW, genW) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      AnnOps.ivfCellSalts(lo) <= AnnOps.ivfCellSalts(hi)
    })
  }

  test("cell sample modulus: identity through the salting band, bounded kept width past engage") {
    val genW = Gen.frequency(
      4 -> Gen.chooseNum(0L, 8L * AnnOps.IvfCellSampleEngage),
      3 -> Gen.chooseNum(0L, 1000000000L),
      1 -> Gen.const(AnnOps.IvfCellSampleEngage),
      1 -> Gen.const(AnnOps.IvfCellSampleEngage + 1L),
      1 -> Gen.const(46852L)) // the measured blob1m hot cell
    // the whole EXACT salting band (cap, engage] must be untouched by
    // sampling — salting handles it losslessly
    runProp("identity under engage", Prop.forAllNoShrink(
      Gen.chooseNum(0L, AnnOps.IvfCellSampleEngage)) { w =>
      AnnOps.ivfSampleModulus(w) == 1L
    })
    runProp("engages exactly past the threshold", Prop.forAllNoShrink(genW) { w =>
      (AnnOps.ivfSampleModulus(w) > 1L) == (w > AnnOps.IvfCellSampleEngage)
    })
    // the law the blob1m build rests on: expected kept postings
    // (width/m, worst-case uneven hash spread +1) land in
    // [target/2, 2·target] — never thinned below k's headroom, never
    // left wide enough to re-form the quadratic cell. And a sampled
    // cell's kept width sits under the SALT cap, so sampling never
    // cascades into salting.
    runProp("kept width lands at the target band", Prop.forAllNoShrink(
      genW.suchThat(_ > AnnOps.IvfCellSampleEngage)) { w =>
      val m = AnnOps.ivfSampleModulus(w)
      val kept = (w + m - 1L) / m
      kept >= AnnOps.IvfCellSampleTarget / 2L &&
        kept <= 2L * AnnOps.IvfCellSampleTarget &&
        kept <= AnnOps.IvfCellWidthCap
    })
    runProp("monotone", Prop.forAllNoShrink(genW, genW) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      AnnOps.ivfSampleModulus(lo) <= AnnOps.ivfSampleModulus(hi)
    })
    // threshold ordering that makes the two-stage defense coherent:
    // cap < engage (a band exists where salting alone runs), and
    // target ≤ cap (a sampled cell is a single salt-free key)
    assert(AnnOps.IvfCellWidthCap < AnnOps.IvfCellSampleEngage)
    assert(AnnOps.IvfCellSampleTarget <= AnnOps.IvfCellWidthCap)
    assert(AnnOps.IvfCellSampleTarget >= 64L * 32L) // ≥ 64× any k used
  }
}
