package graft.oracle

import graft.audio.{AudioFeatures, WavCodec}
import graft.conf.GraftConf
import graft.kernel.{BitPack, Hashing, MinHash, Shingles, SimHash}
import graft.synth.Clip

import scala.collection.mutable

/** Single-node reference-semantics oracle (SURVEY §5.2 item 2): the same
  * hash → bucket → candidate-union (reference Q2/Q4,
  * `/root/reference/hashIndex/StdHashIndex.h:159-183`,
  * `/root/reference/hashIndex/HashCollection.h:196-230`) → exact verify (Q7)
  * → transitive closure pipeline, implemented over plain collections with
  * the same seeds and kernels. The Spark pipeline must reproduce its cluster
  * assignments with dup-pair recall ≥ 0.99 (BASELINE.md); the seeded oracle
  * stands in for the C++ binary because the reference seeds
  * nondeterministically (`arma_rng::set_seed_random()`,
  * `/root/reference/hashBitOptimizers/RandomConstructor.h:71`) — identical
  * config there is not identical RNG draws.
  */
object RefOracle {

  final case class OracleResult(
      clusters: Map[String, String],       // clip_id -> cluster_id (min member)
      dupPairs: Set[(String, String)],     // unordered co-cluster pairs, a < b
      verifiedEdges: Set[(String, String)])

  def run(clips: Seq[Clip], conf: GraftConf): OracleResult = {
    val c = conf
    val textMh = new MinHash(c.textNumPerm, c.textSeed)
    val audioMh = new MinHash(c.audioNumPerm, c.audioSeed)

    // per-clip derived state
    val ids = clips.map(_.clip_id).toArray
    val texts = clips.map(cl => Option(cl.transcript).getOrElse("")).toArray
    val textSh = texts.map(t => Shingles.tokenShingles(Shingles.tokens(t), c.textShingleK, c.seed))
    val audioSh = clips.map { cl =>
      try {
        val dec = WavCodec.decode(cl.bytes)
        AudioFeatures.shingles(dec.samples, c.audioShingleK, c.seed)
      } catch { case _: IllegalArgumentException => Array.empty[Long] }
    }.toArray

    // bucket maps: band_key -> member indices (the hash tables, B1)
    val buckets = mutable.HashMap.empty[(String, Long), mutable.ArrayBuffer[Int]]
    def add(src: String, key: Long, i: Int): Unit =
      buckets.getOrElseUpdate((src, key), mutable.ArrayBuffer.empty) += i

    for (i <- clips.indices) {
      val tKeys = MinHash.bandKeys(textMh.signature(textSh(i)), c.textBands, c.textRows, c.textSeed)
      tKeys.foreach(k => add("text", k, i))
      if (audioSh(i).nonEmpty) {
        val aKeys = MinHash.bandKeys(audioMh.signature(audioSh(i)), c.audioBands, c.audioRows, c.audioSeed)
        aKeys.foreach(k => add("audio", k, i))
      }
      val sim = SimHash.signature(textSh(i), c.simhashBits, SimHash.mixBits(c.simhashSeed))
      BitPack.bands(sim, c.simhashBands, c.simhashBandBits).zipWithIndex.foreach {
        case (v, bi) => add("simhash", Hashing.combine(c.simhashBandSalt(bi), v), i)
      }
    }

    // candidate union across tables (Q4) — all within-bucket pairs
    val candidates = mutable.HashSet.empty[(Int, Int)]
    buckets.valuesIterator.foreach { members =>
      val m = members.distinct.sorted
      for (x <- m.indices; y <- (x + 1) until m.length) candidates += ((m(x), m(y)))
    }

    // substring seed candidates (same W-window seed join semantics)
    val w = c.substringWindow
    val toks = texts.map(Shingles.tokens)
    val windowIndex = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    def windowHash(ts: Array[String], start: Int): Long = {
      var h = c.windowSeed
      var j = 0
      while (j < w) { h = Hashing.combine(h, Hashing.hashString(ts(start + j), c.seed)); j += 1 }
      h
    }
    for (i <- clips.indices if toks(i).length >= w) {
      var s = 0
      while (s + w <= toks(i).length) {
        windowIndex.getOrElseUpdate(windowHash(toks(i), s), mutable.ArrayBuffer.empty) += i
        s += 1
      }
    }
    for (i <- clips.indices if toks(i).length >= w) {
      windowIndex.getOrElse(windowHash(toks(i), 0), Nil).foreach { j =>
        if (j != i) candidates += ((math.min(i, j), math.max(i, j)))
      }
    }

    // exact verification (Q7)
    val edges = candidates.iterator.filter { case (i, j) =>
      val tj = Shingles.jaccardSorted(textSh(i), textSh(j))
      lazy val aj = Shingles.jaccardSorted(audioSh(i), audioSh(j))
      lazy val sub = isTokenSubstring(texts(i), texts(j)) || isTokenSubstring(texts(j), texts(i))
      tj >= c.textJaccardThreshold ||
        aj >= c.audioJaccardThreshold ||
        sub
    }.toSet

    // union-find transitive closure
    val parent = Array.tabulate(clips.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var cur = x
      while (parent(cur) != r) { val nxt = parent(cur); parent(cur) = r; cur = nxt }
      r
    }
    edges.foreach { case (i, j) =>
      val ri = find(i); val rj = find(j)
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    // cluster id = lexicographically smallest member id (matches Components)
    val minId = mutable.HashMap.empty[Int, String]
    for (i <- clips.indices) {
      val r = find(i)
      val cur = minId.get(r)
      if (cur.isEmpty || ids(i) < cur.get) minId(r) = ids(i)
    }
    val clusters = clips.indices.map(i => ids(i) -> minId(find(i))).toMap
    val dupPairs = (for {
      i <- clips.indices
      j <- (i + 1) until clips.length
      if find(i) == find(j)
    } yield orderPair(ids(i), ids(j))).toSet

    OracleResult(clusters, dupPairs, edges.map { case (i, j) => orderPair(ids(i), ids(j)) })
  }

  private def orderPair(x: String, y: String): (String, String) =
    if (x < y) (x, y) else (y, x)

  /** String-domain containment (the engine's verify uses the token-hash
    * equivalent, [[graft.pipeline.VerifyPairs.isSubSequence]]). */
  private def isTokenSubstring(inner: String, outer: String): Boolean = {
    if (inner == null || outer == null) false
    else {
      val in = inner.trim
      val out = outer.trim
      in.nonEmpty && out.nonEmpty && (" " + out + " ").contains(" " + in + " ")
    }
  }
}
