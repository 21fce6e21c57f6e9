package graft.kernel

/** The reference's five hash-function families (operators H1–H5) over dense
  * `Array[Float]` feature vectors, re-expressed as seeded, broadcast-friendly
  * immutable objects whose `hash` runs inside typed Dataset maps.
  *
  * All families share: batched evaluation over a partition's rows (the
  * reference evaluates a whole chunk per BLAS call,
  * `/root/reference/hashFunction/RandomProjectionHashFunction.h:47-53`) and
  * H6 bit packing (`code |= 1L << i`). Every matrix/index draw is a pure
  * function of (seed, tableIdx) — no executor RNG (the reference seeds
  * nondeterministically, `RandomConstructor.h:71`; deliberately replaced).
  */
sealed trait HashFunction extends Serializable {
  def nBits: Int
  /** One 64-bit code (low `nBits` significant) per input vector. */
  def hash(v: Array[Float]): Long
}

object HashFunction {

  /** Deterministic standard Gaussian via Box–Muller on derived uniforms:
    * the one N(0,1) stream of the engine (the hash families' projection
    * matrices, the RDHF/ARDHF bit pool). */
  private[graft] def gaussian(seed: Long, i: Long): Double = {
    val u1 = (Hashing.derive(seed, 2 * i) >>> 11).toDouble / (1L << 53).toDouble
    val u2 = (Hashing.derive(seed, 2 * i + 1) >>> 11).toDouble / (1L << 53).toDouble
    val eps = 1e-15
    math.sqrt(-2.0 * math.log(u1 + eps)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Row-major nBits×dim Gaussian projection matrix. */
  private[kernel] def gaussianMatrix(seed: Long, nBits: Int, dim: Int): Array[Float] = {
    val m = new Array[Float](nBits * dim)
    var i = 0
    while (i < m.length) { m(i) = gaussian(seed, i).toFloat; i += 1 }
    m
  }
}

/** H1 — RandomProjection / SimHash: bit_i = (g_iᵀx > 0), g ~ N(0,1)
  * (`RandomProjectionHashFunction.h:36-53`). Also constructible from a given
  * matrix (`:25-34`), which RandomRotation reuses. */
final class RandomProjectionHash(val nBits: Int, dim: Int, mat: Array[Float])
    extends HashFunction {
  def this(nBits: Int, dim: Int, seed: Long) =
    this(nBits, dim, HashFunction.gaussianMatrix(seed, nBits, dim))
  require(mat.length == nBits * dim)

  def hash(v: Array[Float]): Long = {
    var code = 0L
    var b = 0
    while (b < nBits) {
      var acc = 0.0f
      val off = b * dim
      var j = 0
      while (j < dim) { acc += mat(off + j) * v(j); j += 1 }
      if (acc > 0.0f) code |= (1L << b)
      b += 1
    }
    code
  }
  private[graft] def matrix: Array[Float] = mat
}

/** H2 — RandomRotation: like H1 but the projection rows are orthonormalized
  * (the reference takes SVD left vectors of a random square matrix,
  * `RandomRotationHashFunction.h:38-51`; here modified Gram–Schmidt on the
  * seeded Gaussian rows — same distribution over subspaces). */
object RandomRotationHash {
  def apply(nBits: Int, dim: Int, seed: Long): RandomProjectionHash = {
    require(nBits <= dim, "rotation needs nBits <= dim")
    val m = HashFunction.gaussianMatrix(seed, nBits, dim).map(_.toDouble)
    var b = 0
    while (b < nBits) {
      val off = b * dim
      var p = 0
      while (p < b) {
        val po = p * dim
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += m(off + j) * m(po + j); j += 1 }
        j = 0
        while (j < dim) { m(off + j) -= dot * m(po + j); j += 1 }
        p += 1
      }
      var nrm = 0.0
      var j = 0
      while (j < dim) { nrm += m(off + j) * m(off + j); j += 1 }
      nrm = math.sqrt(nrm) max 1e-12
      j = 0
      while (j < dim) { m(off + j) /= nrm; j += 1 }
      b += 1
    }
    new RandomProjectionHash(nBits, dim, m.map(_.toFloat))
  }
}

/** H3 — RandomSubSampling: pick nBits random coordinates of a binarized
  * vector, pack as bits (`RandomSubSamplingHashFunction.h:37-51`): the
  * "select-k-of-n per table" pattern MinHash banding generalizes. */
final class SubSamplingHash(val nBits: Int, dim: Int, seed: Long) extends HashFunction {
  val indices: Array[Int] = {
    // seeded Fisher–Yates over 0..dim-1, keep first nBits (reference
    // shuffles a linspace and truncates)
    val idx = Array.tabulate(dim)(identity)
    var i = dim - 1
    while (i > 0) {
      val j = (Hashing.derive(seed, i).abs % (i + 1)).toInt
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i -= 1
    }
    java.util.Arrays.copyOf(idx, nBits)
  }
  def hash(v: Array[Float]): Long = {
    var code = 0L
    var b = 0
    while (b < nBits) {
      if (v(indices(b)) > 0.0f) code |= (1L << b)
      b += 1
    }
    code
  }
}

/** H4 — ShiftInvariantKernel (SIKH): bit_i = (sin(w_iᵀx) > 0),
  * w ~ N(0,1)·0.8 (`ShiftInvariantKernelHashFunction.h:24,39-49,63-69`). */
final class SikhHash(val nBits: Int, dim: Int, seed: Long) extends HashFunction {
  private val SikhConst = 0.8f // SIKH_CONST, ShiftInvariantKernelHashFunction.h:24
  private val mat: Array[Float] =
    HashFunction.gaussianMatrix(seed, nBits, dim).map(_ * SikhConst)
  def hash(v: Array[Float]): Long = {
    var code = 0L
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      val off = b * dim
      var j = 0
      while (j < dim) { acc += mat(off + j) * v(j); j += 1 }
      if (math.sin(acc) > 0.0) code |= (1L << b)
      b += 1
    }
    code
  }
}

/** H5 — SparseSignConsistent: bit_i = (Σ_{j∈S_i} ±x_j > 0) with S_i a sparse
  * random coordinate subset of size ≈ √(d / nBits) with a random sign mask
  * (`SparseSignConsistentHashFunction.h:34-70`). */
final class SparseSignHash(val nBits: Int, dim: Int, seed: Long) extends HashFunction {
  private val per = math.max(1, math.sqrt(dim.toDouble / nBits).round.toInt)
  private val idx: Array[Array[Int]] = Array.tabulate(nBits) { b =>
    Array.tabulate(per)(k => (Hashing.derive(seed, b.toLong * 131 + k).abs % dim).toInt)
  }
  private val sgn: Array[Array[Float]] = Array.tabulate(nBits) { b =>
    Array.tabulate(per)(k =>
      if ((Hashing.derive(seed ^ 0x5157L, b.toLong * 131 + k) & 1L) == 1L) 1.0f else -1.0f)
  }
  def hash(v: Array[Float]): Long = {
    var code = 0L
    var b = 0
    while (b < nBits) {
      var acc = 0.0f
      var k = 0
      val is = idx(b); val ss = sgn(b)
      while (k < is.length) { acc += ss(k) * v(is(k)); k += 1 }
      if (acc > 0.0f) code |= (1L << b)
      b += 1
    }
    code
  }
}
