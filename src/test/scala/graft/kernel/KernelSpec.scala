package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

class KernelSpec extends AnyFunSuite {

  test("mulMod61 agrees with BigInt modular arithmetic") {
    val p = BigInt(Hashing.P61)
    var s = 7L
    for (_ <- 0 until 2000) {
      s = Hashing.mix64(s)
      val a = s & Hashing.P61
      val b = Hashing.mix64(s ^ 0x1234L) & Hashing.P61
      val want = (BigInt(a) * BigInt(b) mod p).toLong
      assert(Hashing.mulMod61(a, b) === want, s"a=$a b=$b")
    }
  }

  test("permCoeffs are in range and deterministic") {
    for (i <- 0 until 100) {
      val (a, b) = Hashing.permCoeffs(42L, i)
      assert(a > 0 && a < Hashing.P61)
      assert(b >= 0 && b < Hashing.P61)
      assert(Hashing.permCoeffs(42L, i) === ((a, b)))
    }
    assert(Hashing.permCoeffs(42L, 3) !== Hashing.permCoeffs(43L, 3))
  }

  test("md5Low60 equals first 15 hex chars of md5") {
    for (s <- Seq("", "a", "hello world", "the quick brown fox")) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val want = java.lang.Long.parseLong(hex.take(15), 16)
      assert(Hashing.md5Low60(s) === want, s)
    }
  }

  test("BitPack.pack equals sum of powers of two (reference H6)") {
    val bits = Array(true, false, true, true, false)
    assert(BitPack.pack(bits) === (1L + 4L + 8L))
    assert(BitPack.hamming(0b1011L, 0b0001L) === 2)
  }

  test("BitPack.bands splits and reassembles") {
    val code = 0x123456789abcdefL
    val b = BitPack.bands(code, 4, 15)
    var re = 0L
    for (i <- 0 until 4) re |= b(i) << (i * 15)
    assert(re === code)
  }

  test("probe mask counts are C(bits, d) and ball expands by weight (P1/P2)") {
    for (bits <- Seq(8, 16); d <- 0 to 3) {
      val m = Probes.masksOfWeight(bits, d)
      assert(m.length === Probes.choose(bits, d).toInt)
      assert(m.forall(x => java.lang.Long.bitCount(x) === d))
      assert(m.distinct.length === m.length)
    }
    val ball = Probes.ballMasks(16, 2)
    assert(ball.length === (1 + 16 + 120))
    assert(ball.head === 0L)
    // expanding order: weights are non-decreasing
    val weights = ball.map(java.lang.Long.bitCount)
    assert(weights.sameElements(weights.sorted))
  }

  test("MinHash estimates Jaccard within tolerance on known sets") {
    val mh = new MinHash(256, 42L)
    // sets with true Jaccard 1/3: |A∩B|=50, |A∪B|=150
    val common = Array.tabulate(50)(i => Hashing.mix64(1000L + i))
    val onlyA = Array.tabulate(50)(i => Hashing.mix64(2000L + i))
    val onlyB = Array.tabulate(50)(i => Hashing.mix64(3000L + i))
    val sigA = mh.signature(common ++ onlyA)
    val sigB = mh.signature(common ++ onlyB)
    val est = mh.estimate(sigA, sigB)
    assert(math.abs(est - 1.0 / 3.0) < 0.1, s"est=$est")
    // permutation invariance: signature independent of input order
    assert(mh.signature((common ++ onlyA).reverse).sameElements(sigA))
    // identical sets → identical signature
    assert(mh.estimate(sigA, mh.signature(onlyA ++ common)) === 1.0)
  }

  test("MinHash merge is element-wise min") {
    val mh = new MinHash(16, 7L)
    val a = mh.signature(Array(1L, 2L, 3L))
    val b = mh.signature(Array(4L, 5L))
    val m = mh.merge(a, b)
    assert(m.sameElements(mh.signature(Array(1L, 2L, 3L, 4L, 5L))))
  }

  test("band keys: same rows collide, band index salts the key") {
    val sig = Array.tabulate(8)(i => 100L + i)
    val k1 = MinHash.bandKeys(sig, 4, 2, 42L)
    val k2 = MinHash.bandKeys(sig, 4, 2, 42L)
    assert(k1.sameElements(k2))
    // identical row values in different bands must not collide
    val flat = Array.fill(8)(5L)
    val kf = MinHash.bandKeys(flat, 4, 2, 42L)
    assert(kf.distinct.length === 4)
  }

  test("SimHash: identical sets identical code; near sets near codes") {
    val bitsOf = SimHash.mixBits(42L)
    val base = Array.tabulate(100)(i => Hashing.mix64(i.toLong))
    val s1 = SimHash.signature(base, 60, bitsOf)
    val s2 = SimHash.signature(base.reverse, 60, bitsOf)
    assert(s1 === s2)
    val near = SimHash.signature(base.drop(2) :+ Hashing.mix64(-1L), 60, bitsOf)
    val far = SimHash.signature(Array.tabulate(100)(i => Hashing.mix64(10000L + i)), 60, bitsOf)
    assert(BitPack.hamming(s1, near) < BitPack.hamming(s1, far))
    assert(BitPack.hamming(s1, far) > 15)
  }

  test("Shingles: tokenization, k-grams, sorted Jaccard") {
    assert(Shingles.tokens("  a  b c ").sameElements(Array("a", "b", "c")))
    assert(Shingles.tokens("").isEmpty)
    val a = Shingles.tokenShingles(Array("a", "b", "c", "d"), 3, 1L) // {abc,bcd}
    assert(a.length === 2)
    val b = Shingles.tokenShingles(Array("a", "b", "c"), 3, 1L) // {abc}
    assert(math.abs(Shingles.jaccardSorted(a, b) - 0.5) < 1e-12)
    assert(Shingles.jaccardSorted(Array.empty, Array.empty) === 0.0)
    assert(Shingles.jaccardSorted(a, Array.empty) === 0.0)
  }

  test("FWHT equals naive Hadamard transform (T5 kernel)") {
    var s = 99L
    for (n <- Seq(2, 8, 16)) {
      val x = Array.tabulate(n) { i => s = Hashing.mix64(s); (s % 1000).toDouble / 100.0 }
      val want = DHHashTransformer.naiveHadamard(x)
      val got = x.clone()
      DHHashTransformer.fwht(got)
      for (i <- 0 until n) assert(math.abs(got(i) - want(i)) < 1e-9)
    }
  }

  test("Jacobi eigen-decomposition recovers known spectrum (T4 fit)") {
    // A = diag(3,1) rotated by 45°: eigenvalues {3, 1}
    val c = math.sqrt(2.0) / 2.0
    val a = Array(
      Array(3 * c * c + 1 * c * c, 3 * c * c - 1 * c * c),
      Array(3 * c * c - 1 * c * c, 3 * c * c + 1 * c * c))
    val (vals, vecs) = PcaTransformer.jacobiEigen(a)
    assert(math.abs(vals.max - 3.0) < 1e-9 && math.abs(vals.min - 1.0) < 1e-9)
    // eigenvectors orthonormal
    val dot = vecs(0)(0) * vecs(0)(1) + vecs(1)(0) * vecs(1)(1)
    assert(math.abs(dot) < 1e-9)
  }

  test("PCA transformer projects onto the dominant direction") {
    // points along direction (1,1) with small noise in (1,-1)
    var s = 5L
    val sample = Array.tabulate(200) { _ =>
      s = Hashing.mix64(s)
      val t = (s % 1000).toDouble / 100.0
      s = Hashing.mix64(s)
      val n = (s % 100).toDouble / 1000.0
      Array((t + n).toFloat, (t - n).toFloat)
    }
    val pca = PcaTransformer.fit(sample, 1)
    val p1 = pca(Array(10.0f, 10.0f))
    val p2 = pca(Array(0.0f, 0.0f))
    assert(math.abs(p1(0) - p2(0)) > 5.0) // separates along (1,1)
  }

  test("transformers T1-T3 semantics") {
    val mu = Array(1.0f, 2.0f)
    val v = Array(3.0f, 1.0f)
    assert(NullTransformer(v) eq v)
    assert(new MeanTransformer(mu)(v).sameElements(Array(2.0f, -1.0f)))
    assert(new ThresholdTransformer(mu)(v).sameElements(Array(1.0f, 0.0f)))
  }

  test("hash functions H1-H5: deterministic, nBits respected, sane behavior") {
    val dim = 32
    var s = 17L
    val v = Array.tabulate(dim) { _ => s = Hashing.mix64(s); (s % 1000).toFloat / 500.0f - 1.0f }
    val fns: Seq[HashFunction] = Seq(
      new RandomProjectionHash(16, dim, 42L),
      RandomRotationHash(16, dim, 42L),
      new SubSamplingHash(16, dim, 42L),
      new SikhHash(16, dim, 42L),
      new SparseSignHash(16, dim, 42L))
    for (f <- fns) {
      val h1 = f.hash(v)
      assert(h1 === f.hash(v.clone())) // deterministic
      assert((h1 >>> 16) === 0L)       // only low nBits set
    }
    // H1: sign flip of input flips all bits that were decided by sign
    val rp = new RandomProjectionHash(16, dim, 42L)
    val neg = v.map(x => -x)
    assert(rp.hash(v) !== rp.hash(neg))
    // H1 locality: tiny perturbation rarely changes the code much
    val pert = v.clone(); pert(0) += 1e-4f
    assert(BitPack.hamming(rp.hash(v), rp.hash(pert)) <= 2)
  }

  test("RandomRotation rows are orthonormal") {
    val dim = 16
    val rot = RandomRotationHash(8, dim, 7L)
    val m = rot.matrix
    for (i <- 0 until 8; j <- i until 8) {
      var dot = 0.0
      for (k <- 0 until dim) dot += m(i * dim + k).toDouble * m(j * dim + k)
      if (i == j) assert(math.abs(dot - 1.0) < 1e-4) else assert(math.abs(dot) < 1e-4)
    }
  }

  test("SubSampling indices are a valid nBits-subset without repeats") {
    val ss = new SubSamplingHash(16, 64, 3L)
    assert(ss.indices.length === 16)
    assert(ss.indices.distinct.length === 16)
    assert(ss.indices.forall(i => i >= 0 && i < 64))
  }

  test("short-domain audio feature path is bit-identical to the float path") {
    // seeded pseudo-random int16 signal incl. extremes
    val rnd = new scala.util.Random(42)
    val shorts = Array.tabulate[Short](2048) { i =>
      if (i == 0) Short.MinValue
      else if (i == 1) Short.MaxValue
      else (rnd.nextInt(65536) - 32768).toShort
    }
    val floats = shorts.map(_ / 32768.0f)
    val a = graft.audio.AudioFeatures.frameTokens(floats)
    val b = graft.audio.AudioFeatures.frameTokensFromShorts(shorts)
    assert(a.toSeq === b.toSeq)
    assert(graft.audio.AudioFeatures.shingles(floats, 4, 42L).toSeq ===
      graft.audio.AudioFeatures.shinglesFromShorts(shorts, 4, 42L).toSeq)
  }

  test("decodeShorts agrees with decode on round-tripped WAV bytes") {
    val samples = Array.tabulate[Short](512)(i => (math.sin(i * 0.1) * 20000).toShort)
    val bytes = graft.audio.WavCodec.encode(samples, 16000)
    val f = graft.audio.WavCodec.decode(bytes)
    val s = graft.audio.WavCodec.decodeShorts(bytes)
    assert(s.srHz === f.srHz)
    assert(s.samples.toSeq === samples.toSeq)
    assert(f.samples.toSeq === samples.map(_ / 32768.0f).toSeq)
  }
}
