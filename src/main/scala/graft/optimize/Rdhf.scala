package graft.optimize

import graft.kernel.{HashFunction, Hashing, RandomProjectionHash}

/** O5 — RDHF (Reciprocal-neighbour Driven Hash Function selection),
  * `/root/reference/hashBitOptimizers/RDHF.h:272-330` and helpers
  * (`getSMatrix :83-117`, `getYMatrix :119-127`, `getPiVector :129-148`,
  * `getAMatrix :150-180`, `getAHatMatrix :182-184`, `getZStar :186-225`,
  * `getPMatrix :227-259`, `getWMatrix :261-270`).
  *
  * From a pool of `bitPoolSize` random sign-projection bits, repeatedly
  * select `numBits` per table by a relevance × non-redundancy criterion:
  *
  *  - Y (pool × n): ±1 bit matrix of the pool over the data sample;
  *  - S: sparse supervision — +1 entries for given true-neighbour pairs,
  *    −1 for 2 × (max neighbours per query) sampled non-neighbours per
  *    query (the reference's default count);
  *  - A (pool × pool): exp(−λ · MI) channel-affinity from the empirical
  *    joint bit distributions (high mutual information ⇒ low affinity);
  *  - per table: boost-style reweight W of S from running min-Hamming
  *    distances under the PREVIOUSLY chosen table (getPMatrix/getWMatrix),
  *    relevance vector π = exp(−γ · YSYᵀ / (pool·500)), then a 2-step
  *    power iteration on  = diag(π)·A·diag(π) picks the top bits
  *    (getZStar); chosen bits leave the pool.
  *
  * γ = 0.2 and λ = 4.0 are the reference's defaults and fixed here. The
  * per-table loop ([[select]]) is shared with [[Ardhf]], which runs it
  * with its own supervision (positive-only S plus an aggregated negative
  * term); RDHF's negative term is zero and its reweight unscaled.
  *
  * All matrices are pool/sample-sized — the reference runs this in-memory
  * and so do we: fit at the driver on a collected sample (the same
  * driver-side split as O4's greedy loop; SURVEY §2.7 scopes this as a
  * training-time operator, not a data-path one).
  *
  * Deviations, documented:
  *  - every random draw (pool projections, non-neighbour sampling) derives
  *    from the config seed instead of `arma_rng::set_seed_random()`
  *    (O1-style determinism upgrade); non-neighbours are drawn uniformly
  *    from the full sample instead of the reference's
  *    `randi(0, 2·numNonNeighbours)` id range (`RDHF.h:100`), which at
  *    small ranges collides with itself;
  *  - zero joint-probability cells contribute 0 to the MI sum (the
  *    p·ln(p) → 0 limit) where armadillo would propagate NaN;
  *  - getZStar keeps every not-yet-taken candidate in the shrunken pool
  *    (the reference's row slice `RDHF.h:211-213` additionally drops the
  *    first below-threshold candidate).
  */
object Rdhf {

  final case class Config(
      bitPoolSize: Int = 48,
      numFuncs: Int = 3,
      numBits: Int = 8,
      seed: Long = 42L)

  private val Gamma = 0.2
  private val Lamda = 4.0

  /** One selected table: original pool-row ids (selection order) + the
    * ready-to-use hash function over those projection rows. */
  final case class Table(poolRows: Array[Int], hash: RandomProjectionHash)

  final case class Result(tables: Seq[Table], means: Array[Double])

  // --- sparse supervision ------------------------------------------------
  /** Flat entries (queryIdx, dataIdx, value): +1 neighbours, −1 sampled
    * non-neighbours (getSMatrix), plus the scalar weight of the aggregated
    * negative term (ARDHF's SparseMat `wneg`; RDHF keeps it at 1). */
  private[optimize] final case class SparseS(
      qi: Array[Int], dj: Array[Int], values: Array[Double], wneg: Double = 1.0)

  private[optimize] def buildS(
      neighbours: Array[Array[Int]], n: Int, nonPerQuery: Int, seed: Long): SparseS = {
    val qi = Array.newBuilder[Int]
    val dj = Array.newBuilder[Int]
    val v = Array.newBuilder[Double]
    var i = 0
    while (i < neighbours.length) {
      val truth = neighbours(i).toSet
      neighbours(i).foreach { j => qi += i; dj += j; v += 1.0 }
      var picked = 0
      var k = 0L
      val taken = collection.mutable.Set.empty[Int] ++ truth + i
      while (picked < nonPerQuery && k < 50L * nonPerQuery) {
        // floorMod, not .abs%: Long.MinValue.abs is negative and would
        // produce a negative index (2^-64 per draw, but free to close)
        val cand = java.lang.Math.floorMod(
          Hashing.derive(seed ^ 0x5a5aL, i.toLong * 1000003L + k), n.toLong).toInt
        if (!taken(cand)) {
          qi += i; dj += cand; v += -1.0
          taken += cand
          picked += 1
        }
        k += 1
      }
      i += 1
    }
    SparseS(qi.result(), dj.result(), v.result())
  }

  // --- Y matrix ----------------------------------------------------------
  /** pool × n ±1 sign bits of the centered projections (getYMatrix). */
  private[optimize] def yMatrix(
      data: Array[Array[Float]], proj: Array[Array[Double]], means: Array[Double]): Array[Array[Double]] = {
    val n = data.length
    Array.tabulate(proj.length) { k =>
      val row = new Array[Double](n)
      var i = 0
      while (i < n) {
        val x = data(i)
        var acc = 0.0
        var d = 0
        while (d < x.length) { acc += proj(k)(d) * (x(d) - means(d)); d += 1 }
        row(i) = if (acc > 0.0) 1.0 else -1.0
        i += 1
      }
      row
    }
  }

  // --- A matrix ----------------------------------------------------------
  /** exp(−λ·MI) channel affinity (getAMatrix); diagonal zeroed before the
    * exponential as in the reference. */
  private[optimize] def aMatrix(y: Array[Array[Double]], lamda: Double): Array[Array[Double]] = {
    val p = y.length
    val n = y(0).length
    val pr1 = y.map(row => row.sum / n * 0.5 + 0.5)
    val pr0 = pr1.map(1.0 - _)
    val out = Array.ofDim[Double](p, p)
    var a = 0
    while (a < p) {
      var b = 0
      while (b < p) {
        if (a == b) out(a)(b) = 1.0 // exp(−λ·0)
        else {
          var j11 = 0.0; var j10 = 0.0; var j01 = 0.0; var j00 = 0.0
          var i = 0
          while (i < n) {
            val ya = y(a)(i); val yb = y(b)(i)
            j11 += (ya + 1.0) * (yb + 1.0)
            j10 += (ya + 1.0) * (1.0 - yb)
            j01 += (1.0 - ya) * (yb + 1.0)
            j00 += (1.0 - ya) * (1.0 - yb)
            i += 1
          }
          val denom = 4.0 * n
          def term(joint: Double, prA: Double, prB: Double): Double = {
            val pj = joint / denom
            if (pj <= 0.0) 0.0 // p·ln(p/q) → 0 limit (arma would NaN)
            else pj * math.log(pj / (prA * prB + 0.00001))
          }
          val mi = term(j11, pr1(a), pr1(b)) + term(j10, pr1(a), pr0(b)) +
            term(j01, pr0(a), pr1(b)) + term(j00, pr0(a), pr0(b))
          out(a)(b) = math.exp(-lamda * mi)
        }
        b += 1
      }
      a += 1
    }
    out
  }

  // --- π vector ----------------------------------------------------------
  /** The YSYᵀ diagonal: Σ_e Y[k,qi]·s·Y[k,dj] per pool bit. */
  private[optimize] def ysy(y: Array[Array[Double]], s: SparseS): Array[Double] =
    Array.tabulate(y.length) { k =>
      var acc = 0.0
      var e = 0
      while (e < s.values.length) {
        acc += y(k)(s.qi(e)) * s.values(e) * y(k)(s.dj(e))
        e += 1
      }
      acc
    }

  /** exp(−γ · (YSYᵀ − neg·wneg) / (pool·500)) relevance (getPiVector; the
    * minus sign follows the reference's in-code note). `neg` is the
    * per-bit aggregated negative term: zero for RDHF, ARDHF's piNeg. */
  private[optimize] def piVector(y: Array[Array[Double]], s: SparseS, gamma: Double,
      neg: Array[Double]): Array[Double] = {
    val raw = ysy(y, s)
    Array.tabulate(y.length) { k =>
      math.exp(-gamma * ((raw(k) - neg(k) * s.wneg) / (y.length * 500.0)))
    }
  }

  // --- P / W: boost reweighting from running min-Hamming -----------------
  /** Updates `distances` in place (running min of L1((y_j − y_k)/4) under
    * the last table's bits) and returns the centered p vector with the
    * centered value of a zero distance, −u (getPMatrix; ARDHF's negdist,
    * see [[Ardhf]]). First call (no last table): distances start at 64 and
    * both are the reference's ~0 placeholder. */
  private[optimize] def pVector(lastY: Option[Array[Array[Double]]], s: SparseS,
      distances: Array[Double]): (Array[Double], Double) = {
    lastY match {
      case None =>
        var e = 0
        while (e < distances.length) { distances(e) += 64.0; e += 1 }
        (Array.fill(distances.length)(1e-32), 1e-32)
      case Some(y) =>
        var e = 0
        while (e < distances.length) {
          var l1 = 0.0
          var k = 0
          while (k < y.length) {
            l1 += math.abs(y(k)(s.dj(e)) - y(k)(s.qi(e))) / 4.0
            k += 1
          }
          distances(e) = math.min(distances(e), l1)
          e += 1
        }
        var posSum = 0.0
        var posCnt = 0
        e = 0
        while (e < distances.length) {
          if (s.values(e) > 0.0) { posSum += distances(e); posCnt += 1 }
          e += 1
        }
        val u = if (posCnt == 0) 0.0 else posSum / posCnt
        (distances.map(_ - u), -u)
    }
  }

  /** Boost rate α = scale · #(p·sign(s) < 0) / #(p·sign(s) > 0)
    * (getWMatrix; ARDHF's scale is 0.5). */
  private[optimize] def alpha(s: SparseS, p: Array[Double], scale: Double = 1.0): Double = {
    var neg = 0
    var pos = 0
    var e = 0
    while (e < p.length) {
      val v = p(e) * math.signum(s.values(e))
      if (v < 0.0) neg += 1
      if (v > 0.0) pos += 1
      e += 1
    }
    scale * neg.toDouble / (pos + 0.000001)
  }

  /** exp(−α·p·sign(s))·s + bias boost weights, ±50-clamped (getWMatrix;
    * only ARDHF has a bias). */
  private[optimize] def wValues(s: SparseS, p: Array[Double], alpha: Double,
      bias: Double = 0.0): Array[Double] =
    Array.tabulate(p.length) { e =>
      var v = math.exp(-alpha * p(e) * math.signum(s.values(e))) * s.values(e) + bias
      if (v < -50.0) v = -50.0
      if (v > 50.0) v = 50.0
      if (v == 0.0) v = -0.000000001
      v
    }

  // --- Z* greedy spectral selection --------------------------------------
  /** 2-step power iteration + threshold-gated top selection (getZStar).
    * Returns positions into the CURRENT pool. */
  private[optimize] def zStar(aHat: Array[Array[Double]], numBits: Int): Array[Int] = {
    val m = aHat.length
    val taken = collection.mutable.ArrayBuffer.empty[Int]
    var candidates = (0 until m).toArray
    var cur = aHat.map(_.clone())
    while (taken.length < numBits) {
      val mm = candidates.length
      def step(z: Array[Double]): Array[Double] = {
        val az = new Array[Double](mm) // Aᵀz
        var j = 0
        while (j < mm) {
          var acc = 0.0
          var i = 0
          while (i < mm) { acc += cur(i)(j) * z(i); i += 1 }
          az(j) = acc
          j += 1
        }
        var denom = 0.0
        j = 0
        while (j < mm) { denom += az(j) * z(j); j += 1 }
        if (denom == 0.0) denom = 1e-300
        az.map(_ / denom)
      }
      var z = step(Array.fill(mm)(1.0 / mm))
      var it = 0
      var converged = false
      while (it < 1000 && !converged) {
        val t1 = step(z)
        val t2 = step(t1) // 2 steps: the answer oscillates between 2 values
        var diff = 0.0
        var j = 0
        while (j < mm) { val d = z(j) - t2(j); diff += d * d; j += 1 }
        z = t2
        if (math.sqrt(diff) < 2.0e-18) converged = true
        it += 1
      }
      val sorted = z.zipWithIndex.sortBy { case (v, j) => (-v, j) }.map(_._2)
      val threshold = 0.01 / mm
      if (z(sorted(0)) > threshold) {
        var r = 0
        while (taken.length < numBits && r < sorted.length && z(sorted(r)) > threshold) {
          taken += candidates(sorted(r))
          r += 1
        }
        if (taken.length < numBits) {
          val keep = sorted.drop(r)
          candidates = keep.map(candidates)
          cur = keep.map(i => keep.map(j => cur(i)(j)))
        }
      } else {
        var r = 0
        while (taken.length < numBits && r < sorted.length) {
          taken += candidates(sorted(r))
          r += 1
        }
      }
    }
    taken.toArray
  }

  // --- driver loop -------------------------------------------------------
  /** data: sample rows; neighbours(i): true-neighbour data indices of
    * query i (queries are the first neighbours.length sample rows, matching
    * the reference's query-ids-are-data-ids indexing). */
  def optimize(data: Array[Array[Float]], neighbours: Array[Array[Int]],
      cfg: Config): Result =
    select(data, neighbours, cfg, 2 * neighbours.map(_.length).maxOption.getOrElse(0),
      (y, _) => new Array[Double](y.length),
      (s, p, _) => s.copy(values = wValues(s, p, alpha(s, p))))

  /** The per-table selection loop, run with one operator's supervision:
    * `nonPerQuery` sampled non-neighbours per query in S, the aggregated
    * negative term `negTerm(Y, S)` (computed once, shrunk with the pool)
    * and the boost `reweight(S, p, negdist)` of S before each table. */
  private[optimize] def select(data: Array[Array[Float]], neighbours: Array[Array[Int]],
      cfg: Config, nonPerQuery: Int,
      negTerm: (Array[Array[Double]], SparseS) => Array[Double],
      reweight: (SparseS, Array[Double], Double) => SparseS): Result = {
    require(data.nonEmpty && neighbours.nonEmpty)
    require(cfg.numFuncs * cfg.numBits <= cfg.bitPoolSize,
      "pool must cover numFuncs × numBits")
    val dim = data(0).length
    val n = data.length

    val means = new Array[Double](dim)
    data.foreach { r => var d = 0; while (d < dim) { means(d) += r(d); d += 1 } }
    var d0 = 0
    while (d0 < dim) { means(d0) /= n; d0 += 1 }

    // seeded Gaussian pool projections (genHashFuncs; scale-free for sign
    // hashing, so the reference's SIKH_CONST factor is dropped)
    val pool = Array.tabulate(cfg.bitPoolSize) { k =>
      Array.tabulate(dim)(d => HashFunction.gaussian(cfg.seed, k.toLong * dim + d))
    }

    var s = buildS(neighbours, n, nonPerQuery, cfg.seed)
    var y = yMatrix(data, pool, means)
    var a = aMatrix(y, Lamda)
    var neg = negTerm(y, s)
    var poolIds = (0 until cfg.bitPoolSize).toArray
    var proj = pool
    var lastY: Option[Array[Array[Double]]] = None
    val distances = new Array[Double](s.values.length)

    val tables = (0 until cfg.numFuncs).map { _ =>
      val (p, negdist) = pVector(lastY, s, distances)
      s = reweight(s, p, negdist)
      val pi = piVector(y, s, Gamma, neg)
      val aHat = Array.tabulate(y.length, y.length)((i, j) => pi(i) * a(i)(j) * pi(j))
      val chosen = zStar(aHat, cfg.numBits)
      val chosenSet = chosen.toSet
      val rows = chosen.map(proj)
      val table = Table(chosen.map(poolIds),
        new RandomProjectionHash(cfg.numBits, dim, rows.flatMap(_.map(_.toFloat))))
      lastY = Some(chosen.map(y))
      val keep = y.indices.filterNot(chosenSet).toArray
      poolIds = keep.map(poolIds)
      proj = keep.map(proj)
      y = keep.map(y)
      a = keep.map(i => keep.map(j => a(i)(j)))
      neg = keep.map(neg)
      table
    }
    Result(tables, means)
  }
}
