package graft.optimize

import org.scalatest.funsuite.AnyFunSuite

/** Unit oracles for the ARDHF deltas over RDHF (positive-only S, piNeg
  * aggregate, wneg evolution, the 0.5·α and 0.49-bias wMatrix variant). */
class ArdhfSpec extends AnyFunSuite {

  test("buildS keeps only positive neighbour entries with wneg = 1") {
    val s = Rdhf.buildS(Array(Array(1, 2), Array(0)), n = 3, nonPerQuery = 0, seed = 42L)
    assert(s.values.forall(_ == 1.0))
    assert(s.values.length == 3)
    assert(s.wneg == 1.0)
    assert(s.qi.toSeq == Seq(0, 0, 1) && s.dj.toSeq == Seq(1, 2, 0))
  }

  test("piVector subtracts the wneg-scaled piNeg aggregate (hand case)") {
    val y = Array(Array(1.0, 1.0, -1.0, -1.0))
    val s = Rdhf.SparseS(Array(0), Array(1), Array(1.0), wneg = 2.0)
    // YSYᵀ = 1·(1·1) = 1; piNeg = 3 → exponent −γ·(1 − 3·2)/(1·500)
    val pi = Rdhf.piVector(y, s, gamma = 0.2, neg = Array(3.0))
    assert(math.abs(pi(0) - math.exp(-0.2 * (1.0 - 6.0) / 500.0)) < 1e-12)
    // Σ_i Y = 0 → piNeg = (−0² − YSYᵀ₀)/1000
    assert(Ardhf.piNeg(y, s).toSeq == Seq(-1.0 / 1000.0))
  }

  test("pVector first call = reference placeholders; populated call pins negatives") {
    val s = Rdhf.SparseS(Array(0, 0), Array(1, 2), Array(1.0, 1.0))
    val dist = new Array[Double](2)
    val (p0, nd0) = Rdhf.pVector(None, s, dist)
    assert(dist.forall(_ == 64.0) && p0.forall(_ == 1e-32) && nd0 == 1e-32)
    // populated: pair 0 agrees (0), pair 1 disagrees (0.5) under a 1-bit table
    val lastY = Array(Array(1.0, 1.0, -1.0))
    val (p1, nd1) = Rdhf.pVector(Some(lastY), s, dist)
    assert(dist(0) == 0.0 && dist(1) == 0.5)
    // u = 0.25; zero-pinned negdistances ⇒ negdist = −u
    assert(math.abs(p1(0) + 0.25) < 1e-12 && math.abs(p1(1) - 0.25) < 1e-12)
    assert(nd1 == -0.25)
  }

  test("wUpdate: 0.5·α factor, 0.49-bias term, wneg evolution") {
    val s = Rdhf.SparseS(Array(0, 0), Array(1, 2), Array(1.0, 1.0))
    val p = Array(-0.25, 0.25)
    // zero-pinned negcount (the default) ⇒ bias = 0
    val w = Ardhf.wUpdate(s, p, negdist = -0.25)
    // α = 0.5·(1 neg)/(1 pos + 1e-6)
    val alpha = 0.5 * 1.0 / (1.0 + 0.000001)
    assert(math.abs(w.values(0) - math.exp(alpha * 0.25)) < 1e-12)
    assert(math.abs(w.values(1) - math.exp(-alpha * 0.25)) < 1e-12)
    // wneg' = exp(−α·negdist)·w·0 + exp(α·negdist)·w·1 = exp(−α·0.25)
    assert(math.abs(w.wneg - math.exp(alpha * -0.25)) < 1e-12)
    // nonzero negcount engages the bias and both wneg terms
    val w2 = Ardhf.wUpdate(s, p, negdist = -0.25, negcount = 0.2)
    assert(w2.values(0) > w.values(0), "positive bias must lift entry weights")
    assert(w2.wneg != w.wneg)
  }

  test("optimize: deterministic, disjoint pool rows across tables, wneg path exercised") {
    val (data, neighbours) = RdhfSpec.twoClusters
    val cfg = Rdhf.Config(bitPoolSize = 24, numFuncs = 2, numBits = 6, seed = 42L)
    val r1 = Ardhf.optimize(data, neighbours, cfg)
    val r2 = Ardhf.optimize(data, neighbours, cfg)
    assert(r1.tables.map(_.poolRows.toSeq) == r2.tables.map(_.poolRows.toSeq))
    // the exact selection, pinned so that a changed arithmetic order shows;
    // the second table differs from RDHF's (7, 22, 15, 9, 11, 4)
    assert(r1.tables.map(_.poolRows.toSeq) == Seq(Seq(23, 16, 3, 20, 6, 14), Seq(7, 15, 22, 9, 11, 4)))
    val all = r1.tables.flatMap(_.poolRows)
    assert(all.length == 12 && all.distinct.length == 12)
    r1.tables.foreach(t => assert(t.hash.hash(data(0)) >= 0))
  }

  test("optimize: exact selection on the four planted clusters") {
    val (data, neighbours) = RdhfSpec.fourClusters
    val r = Ardhf.optimize(data, neighbours,
      Rdhf.Config(bitPoolSize = 32, numFuncs = 2, numBits = 8, seed = 5L))
    assert(r.tables.map(_.poolRows.toSeq) ==
      Seq(Seq(31, 27, 17, 30, 29, 3, 1, 6), Seq(26, 10, 9, 12, 13, 14, 16, 22)))
  }
}
