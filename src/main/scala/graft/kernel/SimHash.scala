package graft.kernel

/** SimHash over a shingle set — the set-space reading of the reference's
  * RandomProjectionHashFunction (signed random projection, operator H1):
  * bit_i = (g_iᵀx > 0) with g_i ~ N(0,1)
  * (`/root/reference/hashFunction/RandomProjectionHashFunction.h:36-53`).
  * For a sparse 0/1 shingle-indicator vector the projection reduces to a sum
  * of per-shingle pseudo-random ±1 contributions per output bit; the sign of
  * each accumulated counter is the bit, packed via H6 (BitPack).
  *
  * `bitsOf` decides where a shingle's ±1 pattern comes from; the engine
  * uses [[SimHash.mixBits]], a seeded mixer.
  */
object SimHash {

  /** nBits ≤ 60 pseudo-random bits for shingle hash `h` (internal mixer).
    * For nBits ≤ 64 one mixed word suffices. */
  def mixBits(seed: Long): Long => Long = h => Hashing.mix64(h ^ seed)

  /** Signature from pre-hashed shingles: counter per bit, sign → bit.
    * Zero counters round DOWN (bit = 0) — fixed tie rule, documented so the
    * oracle can reproduce it exactly. */
  def signature(shingles: Array[Long], nBits: Int, bitsOf: Long => Long): Long = {
    val counters = new Array[Int](nBits)
    var s = 0
    while (s < shingles.length) {
      val w = bitsOf(shingles(s))
      var i = 0
      while (i < nBits) {
        if (((w >>> i) & 1L) == 1L) counters(i) += 1 else counters(i) -= 1
        i += 1
      }
      s += 1
    }
    var code = 0L
    var i = 0
    while (i < nBits) {
      if (counters(i) > 0) code |= (1L << i)
      i += 1
    }
    code
  }
}
