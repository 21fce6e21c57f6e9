package graft.optimize

import graft.optimize.Rdhf.SparseS

/** O6 — ARDHF (approximate RDHF),
  * `/root/reference/hashBitOptimizers/ARDHF.h:318-378` and helpers
  * (`getSMatrix :91-106`, `getPiVector :118-142`, `getPiVector0 :144-162`,
  * `getPMatrix :227-302`, `getWMatrix :304-315`).
  *
  * ARDHF is [[Rdhf]]'s selection loop run with a different supervision.
  * Its deltas over RDHF:
  *  - S holds only the positive (true-neighbour) entries: RDHF's S with 0
  *    sampled non-neighbours;
  *  - the sampled negatives are replaced by one aggregated negative
  *    relevance term, `piNeg = (−(Σ_i Y[k,i])² − YSYᵀ₀[k]) / 1000`,
  *    computed once from the unweighted S and shrunk with the pool;
  *  - π subtracts `piNeg · wneg`;
  *  - the reweight runs at 0.5·α, adds a `0.49·negcount/(1−negcount)`
  *    bias and evolves the scalar boost weight `wneg` from the aggregated
  *    negative distance.
  *
  * Faithfully-ported reference quirk, documented: `negdistances` is
  * zero-initialized on its first populated call and then min-folded
  * against new distances (`ARDHF.h:254-256, 275-280`), pinning it at zero
  * — so thereafter negdist = −u (the centered value of a zero distance,
  * [[Rdhf.pVector]]) and negcount = 0 in closed form. The port keeps the
  * written semantics (and the spec pins them) rather than "fixing" the
  * fold.
  */
object Ardhf {

  /** `ARDHF.h:318-378`: the [[Rdhf]] loop with the deltas above. */
  def optimize(data: Array[Array[Float]], neighbours: Array[Array[Int]],
      cfg: Rdhf.Config): Rdhf.Result =
    Rdhf.select(data, neighbours, cfg, nonPerQuery = 0, piNeg, wUpdate(_, _, _))

  /** The aggregated negative term from the unweighted S (getPiVector0). */
  private[optimize] def piNeg(y: Array[Array[Double]], s: SparseS): Array[Double] = {
    val p0 = Rdhf.ysy(y, s)
    Array.tabulate(y.length) { k =>
      val rowSum = y(k).sum
      (-(rowSum * rowSum) - p0(k)) / 1000.0
    }
  }

  /** exp(−α·p)·s + 0.49·negcount/(1−negcount) entry weights and the
    * evolved wneg scalar (getWMatrix; α carries ARDHF's 0.5 factor).
    * negcount defaults to its zero-pinned value (class doc). */
  private[optimize] def wUpdate(s: SparseS, p: Array[Double], negdist: Double,
      negcount: Double = 0.0): SparseS = {
    val alpha = Rdhf.alpha(s, p, scale = 0.5)
    val vals = Rdhf.wValues(s, p, alpha, bias = 0.49 * negcount / (1.0 - negcount))
    val wneg = math.exp(-alpha * negdist) * s.wneg * negcount +
      math.exp(alpha * negdist) * s.wneg * (1.0 - negcount)
    SparseS(s.qi, s.dj, vals, wneg)
  }
}
