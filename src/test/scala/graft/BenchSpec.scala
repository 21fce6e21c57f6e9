package graft

import graft.tools.BenchReport.Leg
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s budget arithmetic and CPU-parity retry trigger, replayed on
  * recorded legs. No Spark needed.
  *
  * The replay uses the default 500k-clip, 1800 s run recorded in
  * BENCH_r05.json: best legs 2c 273.812 s / cpu 529.54 core-s and 8c
  * 91.373 s / cpu 641.88 core-s (parity 1.212, efficiency 0.749).
  */
class BenchSpec extends AnyFunSuite {

  private val baseN = 2
  private val n = 500000
  private def leg(cores: Int, sec: Double, cpu: Double, pinned: Boolean = true): Leg =
    Leg(cores, sec, cpu, pinned, n)
  private val r05 = Seq(leg(2, 273.812, 529.54), leg(8, 91.373, 641.88))

  /** A pair with the given 4N / N best-leg CPU ratio. */
  private def withParity(parity: Double): Seq[Leg] =
    Seq(leg(2, 273.812, 600.0), leg(8, 91.373, 600.0 * parity))

  private val budget = 1800.0

  /** Each replayed leg's wall: the timed run, +20 % for the untimed warmup
    * on 100k of the 500k rows, +15 s for child JVM and session start. */
  private def legWall(l: Leg): Double = l.sec * 1.2 + 15

  /** The default run replayed on r05's legs up to the end of its main
    * pairs: (pairs run, legs, elapsed seconds). */
  private def replayPairs(): (Int, Seq[Leg], Double) = {
    // r05's 13 headline queries sum to 23.0 s; 120 s also covers JVM and
    // session start and the untimed warmup query, with margin
    var elapsed = 120.0
    assert(budget - elapsed > Bench.scalingCost(n) + 60, "main input would be resized")
    elapsed += n * Bench.secPerClipSynth // the planned synth
    val legs = scala.collection.mutable.ArrayBuffer.empty[Leg]
    var pairs = 0
    // the scaling-pairs loop condition of Bench.main
    while (pairs < 3 && (pairs == 0 || budget - elapsed >
        Bench.pairGate(legs.toSeq, baseN, n) + Bench.retryReserve(legs.toSeq, baseN, n))) {
      legs ++= r05
      elapsed += r05.map(legWall).sum
      pairs += 1
    }
    (pairs, legs.toSeq, elapsed)
  }

  test("the default budget admits at least two main pairs after headlines and synth") {
    val (pairs, _, elapsed) = replayPairs()
    assert(pairs >= 2, s"only $pairs pair(s) fit; elapsed $elapsed s")
    assert(elapsed <= budget)
  }

  test("r05's legs leave the budget for the 8c parity retry after the main pairs") {
    // without the reserve a third pair ran and left ~151 s, under legGate(8) ≈ 170 s
    val (pairs, legs, elapsed) = replayPairs()
    assert(Bench.contestedLevel(legs, baseN).contains(8))
    assert(Bench.retryReserve(legs, baseN, n) === Bench.legGate(legs, 8, baseN, n))
    assert(budget - elapsed > Bench.legGate(legs, 8, baseN, n), s"$pairs pairs, elapsed $elapsed s")
    assert(elapsed + legWall(r05(1)) <= budget)
  }

  test("gates come from the measured legs, with no quiet-wait allowance") {
    // slowest leg per level + 110 s child overhead, +10 % + 30 s
    assert(math.abs(Bench.pairGate(r05, baseN, n) - ((273.812 + 91.373 + 110) * 1.1 + 30)) < 1e-6)
    // fastest leg at the level +20 %, + 60 s
    assert(math.abs(Bench.legGate(r05, 8, baseN, n) - (91.373 * 1.2 + 60)) < 1e-6)
  }

  test("r05's parity 1.212 asks for a retry at 8 cores") {
    assert(Bench.contestedLevel(r05, baseN).contains(8))
  }

  test("BENCH_FULL's best legs (cpu 693.29 / 693.02) ask for no retry") {
    val full = Seq(leg(2, 361.036, 693.29), leg(8, 92.21, 693.02),
      leg(8, 124.32, 904.98), leg(2, 362.167, 701.61))
    assert(Bench.contestedLevel(full, baseN).isEmpty)
    assert(Bench.retryReserve(full, baseN, n) === 0.0)
  }

  test("a 2c-side storm at parity 0.878 asks for a retry at 2 cores") {
    assert(Bench.contestedLevel(withParity(0.878), baseN).contains(2))
    assert(Bench.contestedLevel(withParity(0.546), baseN).contains(2))
  }

  test("recorded parities inside the band stand, those above it retry 8c") {
    // parity → recorded efficiency: 1.000 → 0.979, 1.058 → 0.921,
    // 1.122 → 0.854, 1.141 → 0.839; ≥ 1.17 recorded ≤ 0.819
    Seq(1.000, 1.058, 1.122, 1.141).foreach(p =>
      assert(Bench.contestedLevel(withParity(p), baseN).isEmpty, s"parity $p"))
    Seq(1.17, 1.212, 1.213, 1.234, 1.237).foreach(p =>
      assert(Bench.contestedLevel(withParity(p), baseN).contains(8), s"parity $p"))
  }

  test("no retry without a CPU reading at both levels or with an un-pinned leg") {
    assert(Bench.contestedLevel(r05.take(1), baseN).isEmpty)
    assert(Bench.contestedLevel(r05 :+ leg(2, 300.0, Double.NaN, pinned = false), baseN).isEmpty)
  }
}
