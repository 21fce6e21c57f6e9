package graft.optimize

import org.scalatest.funsuite.AnyFunSuite

/** Unit oracles for the RDHF helpers (hand-computed small cases) plus
  * structural properties of the driver loop. */
class RdhfSpec extends AnyFunSuite {

  test("aMatrix: independent bits ≈ affinity 1, identical bits strongly penalized") {
    val indep = Array(
      Array(1.0, 1.0, -1.0, -1.0),
      Array(1.0, -1.0, 1.0, -1.0))
    val aI = Rdhf.aMatrix(indep, lamda = 4.0)
    assert(math.abs(aI(0)(1) - 1.0) < 1e-3, s"independent-bit affinity ${aI(0)(1)}")
    assert(aI(0)(0) == 1.0 && aI(1)(1) == 1.0, "diagonal zeroed before exp")

    val ident = Array(
      Array(1.0, 1.0, -1.0, -1.0),
      Array(1.0, 1.0, -1.0, -1.0))
    val aD = Rdhf.aMatrix(ident, lamda = 4.0)
    // MI = 2 · 0.5·ln(0.5/0.25001) ≈ ln 2 → affinity ≈ exp(−4·ln2) = 1/16
    assert(math.abs(aD(0)(1) - math.exp(-4.0 * 2 * 0.5 * math.log(0.5 / 0.25001))) < 1e-6)
    assert(aD(0)(1) < 0.07)
  }

  test("aMatrix: constant bit yields zero-probability cells without NaN") {
    val y = Array(
      Array(1.0, 1.0, 1.0, 1.0), // constant
      Array(1.0, -1.0, 1.0, -1.0))
    val a = Rdhf.aMatrix(y, lamda = 4.0)
    assert(!a.flatten.exists(_.isNaN))
  }

  test("piVector: hand-computed YSYᵀ diagonal") {
    // 1 pool bit over 4 points; S: (+1 for q0~d1), (−1 for q0~d3)
    val y = Array(Array(1.0, 1.0, -1.0, -1.0))
    val s = Rdhf.SparseS(Array(0, 0), Array(1, 3), Array(1.0, -1.0))
    // Σ w·Y[k,qi]·Y[k,dj] = 1·(1·1) + (−1)·(1·(−1)) = 2 → exp(−γ·2/(1·500))
    val pi = Rdhf.piVector(y, s, gamma = 0.2, neg = Array(0.0))
    assert(math.abs(pi(0) - math.exp(-0.2 * 2.0 / 500.0)) < 1e-12)
  }

  test("pVector first call is the reference's ~0 placeholder; distances initialized to 64") {
    val s = Rdhf.SparseS(Array(0, 0), Array(1, 2), Array(1.0, -1.0))
    val dist = new Array[Double](2)
    val (p, negdist) = Rdhf.pVector(None, s, dist)
    assert(dist.forall(_ == 64.0))
    assert(p.forall(_ == 1e-32) && negdist == 1e-32)
  }

  test("pVector/wValues: min-Hamming tracking and the reference's reweight direction") {
    // last table = 1 bit; pair 0 (positive) agrees (dist 0.5·0=0), pair 1
    // (positive) disagrees (|1−(−1)|/4 = 0.5)
    val lastY = Array(Array(1.0, 1.0, -1.0))
    val s = Rdhf.SparseS(Array(0, 0), Array(1, 2), Array(1.0, 1.0))
    val dist = Array(64.0, 64.0)
    val (p, negdist) = Rdhf.pVector(Some(lastY), s, dist)
    assert(dist(0) == 0.0 && dist(1) == 0.5)
    // u = mean over positives = 0.25 → p = (−0.25, +0.25), zero distance → −u
    assert(math.abs(p(0) + 0.25) < 1e-12 && math.abs(p(1) - 0.25) < 1e-12)
    assert(negdist == -0.25)
    val w = Rdhf.wValues(s, p, Rdhf.alpha(s, p))
    // getWMatrix as written: exp(−α·p·sign(s)) ⇒ below-mean-distance
    // positives get weight > 1, above-mean get weight < 1
    assert(w(0) > 1.0 && w(1) < 1.0)
    assert(math.abs(w(0) * w(1) - 1.0) < 1e-12) // α=1 here: exp(±0.25) symmetric
  }

  test("wValues clamps runaway weights to ±50 and nudges zeros") {
    val s = Rdhf.SparseS(Array(0, 0), Array(1, 2), Array(1.0, -1.0))
    val p = Array(-1000.0, -1000.0)
    val w = Rdhf.wValues(s, p, Rdhf.alpha(s, p))
    assert(w.forall(v => v <= 50.0 && v >= -50.0))
    val s0 = Rdhf.SparseS(Array(0), Array(1), Array(0.0))
    assert(Rdhf.wValues(s0, Array(0.0), Rdhf.alpha(s0, Array(0.0))).head == -0.000000001)
  }

  test("zStar picks the dominant mutually-affine block first") {
    // candidates 0,1 reinforce each other; 2 is isolated → power iteration
    // mass concentrates on {0,1}
    val aHat = Array(
      Array(1.0, 0.9, 0.1),
      Array(0.9, 1.0, 0.1),
      Array(0.1, 0.1, 1.0))
    assert(Rdhf.zStar(aHat, 2).toSet == Set(0, 1))
  }

  test("optimize: deterministic, disjoint pool rows, usable hash functions") {
    val (data, neighbours) = RdhfSpec.twoClusters
    val cfg = Rdhf.Config(bitPoolSize = 24, numFuncs = 2, numBits = 6, seed = 42L)
    val r1 = Rdhf.optimize(data, neighbours, cfg)
    val r2 = Rdhf.optimize(data, neighbours, cfg)
    assert(r1.tables.map(_.poolRows.toSeq) == r2.tables.map(_.poolRows.toSeq))
    // the exact selection, pinned so that a changed arithmetic order shows
    assert(r1.tables.map(_.poolRows.toSeq) == Seq(Seq(23, 16, 3, 20, 6, 14), Seq(7, 22, 15, 9, 11, 4)))
    val all = r1.tables.flatMap(_.poolRows)
    assert(all.length == 12 && all.distinct.length == 12, "tables must use disjoint pool bits")
    r1.tables.foreach { t =>
      assert(t.poolRows.length == 6)
      val c = t.hash.hash(data(0))
      assert(c >= 0 && c < (1L << 6))
    }
    // different seed → different pool → (almost surely) different selection
    val r3 = Rdhf.optimize(data, neighbours, cfg.copy(seed = 43L))
    assert(r3.tables.map(_.poolRows.toSeq) != r1.tables.map(_.poolRows.toSeq))
    assert(r3.tables.map(_.poolRows.toSeq) == Seq(Seq(22, 15, 4, 3, 7, 8), Seq(1, 16, 2, 21, 18, 19)))
  }

  test("optimize: selected tables preserve the LSH property on planted clusters") {
    val (data, neighbours) = RdhfSpec.fourClusters
    val r = Rdhf.optimize(data, neighbours,
      Rdhf.Config(bitPoolSize = 32, numFuncs = 2, numBits = 8, seed = 5L))
    assert(r.tables.map(_.poolRows.toSeq) ==
      Seq(Seq(31, 27, 17, 30, 29, 3, 1, 6), Seq(26, 10, 9, 7, 11, 12, 13, 14)))
    val codes = r.tables.map(t => data.map(t.hash.hash))
    // mean Hamming between same-cluster pairs < between cross-cluster pairs
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    var same = 0.0; var sameN = 0
    var cross = 0.0; var crossN = 0
    for (cs <- codes; i <- 0 until 100; j <- (i + 1) until 100) {
      if (i % 4 == j % 4) { same += ham(cs(i), cs(j)); sameN += 1 }
      else { cross += ham(cs(i), cs(j)); crossN += 1 }
    }
    assert(same / sameN < cross / crossN,
      f"same-cluster Hamming ${same / sameN}%.2f vs cross ${cross / crossN}%.2f")
  }
}

/** The optimizer fixtures [[RdhfSpec]] and [[ArdhfSpec]] share: (sample,
  * neighbours of the first sample rows). */
object RdhfSpec {

  /** 120 rows, two planted clusters along dim 0; neighbours are
    * same-cluster successors. */
  def twoClusters: (Array[Array[Float]], Array[Array[Int]]) = {
    val n = 120
    val dim = 16
    val data = Array.tabulate(n) { i =>
      Array.tabulate(dim) { d =>
        val base = if (i % 2 == 0) 1.0f else -1.0f
        if (d == 0) base
        else (graft.kernel.Hashing.derive(7L, i.toLong * dim + d) % 1000L) / 1000.0f
      }
    }
    (data, Array.tabulate(20)(i => Array((i + 2) % n, (i + 4) % n)))
  }

  /** 200 rows, four planted clusters (cluster = row % 4); neighbours are
    * same-cluster successors. */
  def fourClusters: (Array[Array[Float]], Array[Array[Int]]) = {
    val n = 200
    val dim = 12
    val data = Array.tabulate(n) { i =>
      val c = i % 4
      Array.tabulate(dim) { d =>
        val center = if (((c >> (d % 2)) & 1) == 1) 2.0f else -2.0f
        center + (graft.kernel.Hashing.derive(11L, i.toLong * dim + d) % 100L) / 200.0f
      }
    }
    (data, Array.tabulate(40)(i => Array((i + 4) % n, (i + 8) % n)))
  }
}
