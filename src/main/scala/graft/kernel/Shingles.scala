package graft.kernel

/** Shingling: text / token-sequence / feature-sequence → set of 64-bit
  * shingle ids. The reference hashes dense vectors directly; the dedup graft
  * hashes k-gram shingles of transcripts and audio feature frames instead,
  * which is the document analogue of its feature space. */
object Shingles {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokenization (single spaces in the synthetic corpora). */
  def tokens(text: String): Array[String] = {
    val t = text.trim
    if (t.isEmpty) Array.empty else Ws.split(t)
  }

  /** Sort in place and drop duplicates — the primitive-array replacement
    * for a boxed TreeSet on the kernel hot path (same output: ascending
    * distinct values). */
  private def sortedDistinct(a: Array[Long], n: Int): Array[Long] = {
    java.util.Arrays.sort(a, 0, n)
    var w = 0
    var i = 0
    while (i < n) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** Distinct k-token shingle hashes (word n-grams), ascending. */
  def tokenShingles(toks: Array[String], k: Int, seed: Long): Array[Long] = {
    if (toks.length < k) {
      if (toks.isEmpty) Array.empty
      else Array(Hashing.hashString(toks.mkString(" "), seed))
    } else {
      val n = toks.length - k + 1
      val buf = new Array[Long](n)
      var i = 0
      while (i < n) {
        var h = seed
        var j = 0
        while (j < k) { h = Hashing.combine(h, Hashing.hashString(toks(i + j), seed)); j += 1 }
        buf(i) = h
        i += 1
      }
      sortedDistinct(buf, n)
    }
  }

  /** [[tokenShingles]] over pre-hashed tokens (identical output — the
    * combine chain consumes the same per-token hashes; `toks` is only
    * needed for the shorter-than-k whole-text fallback). Saves the k×
    * re-hash of every token across overlapping windows. */
  def tokenShinglesFromHashes(toks: Array[String], toksH: Array[Long], k: Int, seed: Long): Array[Long] = {
    if (toks.length < k) {
      if (toks.isEmpty) Array.empty
      else Array(Hashing.hashString(toks.mkString(" "), seed))
    } else {
      val n = toksH.length - k + 1
      val buf = new Array[Long](n)
      var i = 0
      while (i < n) {
        var h = seed
        var j = 0
        while (j < k) { h = Hashing.combine(h, toksH(i + j)); j += 1 }
        buf(i) = h
        i += 1
      }
      sortedDistinct(buf, n)
    }
  }

  /** Distinct k-gram shingle hashes over an arbitrary Long token sequence
    * (used for audio feature-frame sequences), ascending. */
  def longShingles(seq: Array[Long], k: Int, seed: Long): Array[Long] = {
    if (seq.isEmpty) return Array.empty
    val kk = math.min(k, seq.length)
    val n = seq.length - kk + 1
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = seed
      var j = 0
      while (j < kk) { h = Hashing.combine(h, seq(i + j)); j += 1 }
      buf(i) = h
      i += 1
    }
    sortedDistinct(buf, n)
  }

  /** Exact Jaccard of two SORTED distinct-hash arrays (verification stage,
    * reference operator Q7: exact re-check of hash candidates,
    * `/root/reference/hashIndex/HashCollection.h:263`). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    // either side empty scores 0.0: an empty transcript or a silent clip
    // duplicates nothing
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }
}
