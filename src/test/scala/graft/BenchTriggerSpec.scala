package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replay of known host-contention blips (and known-clean runs)
  * through [[Bench.contentionSuspect]] — the four retry triggers.
  * Every case is a REAL (query, round) measurement from the committed
  * artifact history, so a trigger regression is caught against the
  * exact noise signatures that motivated each rule. */
class BenchTriggerSpec extends AnyFunSuite {

  test("trigger (a): warm >3x committed flags the round-9 phantom tail") {
    // set_closure, round-9 driver run: committed warm 0.95s, driver
    // published 6.2s (6.5x) — fresh JVM could not reproduce
    assert(Bench.contentionSuspect(cold = 7.1, warm = 6.2,
      baseCold = Some(1.4), baseWarm = Some(0.95)))
  }

  test("trigger (b): warm above the same run's cold flags the g2 sf1 blip") {
    // g2_triangles, round-10 discarded sf1 refresh: cold 75s,
    // warm 114s — 2.0x its 56s baseline (under the 3x rule) yet
    // physically nonsensical, the case that motivated (b)
    assert(Bench.contentionSuspect(cold = 75.0, warm = 114.0,
      baseCold = Some(87.4), baseWarm = Some(56.2)))
  }

  test("trigger (c): jointly-inflated cold+warm flags the round-10 d4 blip") {
    // d4_ngram_jaccard, round-10 driver run: committed 2.413/1.506,
    // measured 5.653/3.607 (judge fresh-JVM re-time: 1.13s). Slipped
    // (a) at 2.61x and (b) because cold inflated with warm — the blip
    // class trigger (c) exists for (round-10 verdict item 3).
    assert(Bench.contentionSuspect(cold = 5.653, warm = 3.607,
      baseCold = Some(2.413), baseWarm = Some(1.506)))
  }

  test("clean runs with ordinary variance are NOT flagged") {
    // d2_minhash_lsh round-10 driver vs committed: 1.23x warm — real
    // suite noise that a retry pass should not burn time on
    assert(!Bench.contentionSuspect(cold = 4.1, warm = 2.19,
      baseCold = Some(3.855), baseWarm = Some(1.784)))
    // cold-only inflation (first-touch page cache) with warm on
    // baseline must not fire (c): warm is the gate's subject
    assert(!Bench.contentionSuspect(cold = 5.0, warm = 1.55,
      baseCold = Some(2.413), baseWarm = Some(1.506)))
    // no baseline at all (first pin of a new query): only (b) applies
    assert(!Bench.contentionSuspect(cold = 3.0, warm = 1.2,
      baseCold = None, baseWarm = None))
    // failed query is never a retry candidate
    assert(!Bench.contentionSuspect(cold = -1.0, warm = -1.0,
      baseCold = Some(1.0), baseWarm = Some(1.0)))
  }

  test("sub-second queries need absolute materiality to trigger (b)/(c)") {
    // scheduling jitter on a 0.3s query can read warm 0.45 vs cold
    // 0.32 (1.4x) — immaterial, must not burn a retry
    assert(!Bench.contentionSuspect(cold = 0.32, warm = 0.45,
      baseCold = Some(0.30), baseWarm = Some(0.31)))
  }

  test("the round-11 discarded sf1 refresh: the flagged four fired, g2 did not") {
    // One contaminated sf1 full-board leg (round-11, discarded):
    // four small queries tripped the triggers and self-labeled noisy —
    // x4_interval_overlap (a): warm 1.963 vs committed 0.612 = 3.2x
    assert(Bench.contentionSuspect(cold = 4.380, warm = 1.963,
      baseCold = Some(1.192), baseWarm = Some(0.612)))
    // ks1_full_stack (c): cold 3.506 vs 1.333, warm 0.834 vs 0.495
    assert(Bench.contentionSuspect(cold = 3.506, warm = 0.834,
      baseCold = Some(1.333), baseWarm = Some(0.495)))
    // w5_sparkline (a): warm 1.442 vs 0.471 = 3.1x (its retry read
    // WORSE, 1.851 — contention spanning the retry window is exactly
    // why the gate keeps min(warm, retry) rather than trusting either)
    assert(Bench.contentionSuspect(cold = 1.502, warm = 1.442,
      baseCold = Some(1.077), baseWarm = Some(0.471)))
    // g2_triangles read 73.96 warm vs 54.63 committed (1.35x, cold
    // 76.0 vs 87.4) — inside all four trigger envelopes, so the RUN
    // could not self-label; the ABSOLUTE sf1 bound (70s) in
    // Sf1GrowthGateSpec is the layer that caught it. Two layers on
    // purpose: triggers catch spikes, absolute bounds catch drift.
    assert(!Bench.contentionSuspect(cold = 76.024, warm = 73.962,
      baseCold = Some(87.382), baseWarm = Some(54.632)))
  }

  test("trigger (b) tightened: warm-above-cold on a multi-second query " +
      "flags the round-13 d14 blip") {
    // d14_soft_dedup, round-13 driver run: cold 3.735, warm 4.315 —
    // warm ABOVE cold by 1.16x, under the flat 1.25x ratio, yet on a
    // 4s query a 0.6s warm-above-cold excess is contention, not
    // jitter (the quiet pin read 4.5s cold-consistent). The >2s
    // absolute floor keeps the tighter 1.1x off small queries.
    assert(Bench.contentionSuspect(cold = 3.735, warm = 4.315,
      baseCold = Some(3.933), baseWarm = Some(4.506)))
    // the same 1.16x warm/cold shape on a sub-2s query must NOT fire
    assert(!Bench.contentionSuspect(cold = 1.5, warm = 1.74,
      baseCold = Some(1.5), baseWarm = Some(1.7)))
  }

  test("trigger (e): sub-2x drift on a heavy query flags the round-13 d6 blip") {
    // d6_dedup_clusters, round-13 driver run: warm 5.173 vs the
    // committed quiet pin 3.49 — 1.48x, under (a)'s 3x, (d)'s 2x,
    // and with cold inflated in step (8.95 vs 6.1) so (b)/(c) were
    // quiet. 1.7 seconds of pure contention on the board's #4 query
    // shipped unflagged; >1.4x on a >3s query is now a suspect.
    assert(Bench.contentionSuspect(cold = 8.947, warm = 5.173,
      baseCold = Some(6.1), baseWarm = Some(3.49)))
    // the round-11 g2 sf1 drift (1.35x on 54.6s committed) stays
    // under (e)'s 1.4x — the absolute sf1 bound remains its layer
    assert(!Bench.contentionSuspect(cold = 76.024, warm = 73.962,
      baseCold = Some(87.382), baseWarm = Some(54.632)))
    // ...and 1.48x on a sub-3s query stays on (d)'s 2x rule
    assert(!Bench.contentionSuspect(cold = 2.9, warm = 2.5,
      baseCold = Some(2.8), baseWarm = Some(1.7)))
  }

  test("trigger (d): material 2x drift flags the round-11 s11 blip") {
    // s11_profile, second round-11 sf1 leg: committed 4.183/3.363,
    // measured 7.714/7.542 — 2.24x warm (under (a)'s 3x), cold
    // inflated in step (1.8x, under (c)'s 2x), warm below cold (no
    // (b)). The heavy-subset leg 20 minutes later read 3.06s, so the
    // number was noise the run could not self-label before (d).
    assert(Bench.contentionSuspect(cold = 7.714, warm = 7.542,
      baseCold = Some(4.183), baseWarm = Some(3.363)))
    // ...but the same 2.24x ratio on a sub-2s query must NOT fire:
    // small-query scheduler jitter is what (a)'s 3x exists for
    assert(!Bench.contentionSuspect(cold = 0.9, warm = 0.74,
      baseCold = Some(0.5), baseWarm = Some(0.33)))
  }

  test("contract line stops at the first entry over the char budget") {
    val header = "{\"queries\":{"
    val long = "x" * 40 -> 1.0
    val short = "s" -> 2.0
    val budget = header.length + 20
    // the long entry overflows; the short one after it would fit but
    // must not be emitted — the line is always a prefix of the order
    assert(Bench.contractLine(header, Seq(long, short), budget) == header + "}}")
    assert(Bench.contractLine(header, Seq(short, long), budget) ==
      header + "\"s\":2.00}}")
    assert(Bench.contractLine(header, Seq(short, short.copy(_1 = "t")), budget) ==
      header + "\"s\":2.00,\"t\":2.00}}")
  }
}
