package graft.tools

import graft.audio.{AudioFeatures, WavCodec}
import graft.conf.GraftConf
import graft.kernel.{MinHash, Shingles, SimHash}
import graft.synth.ClipTableGen

/** No-Spark microbenchmark of the per-clip signature kernel: synthesis,
  * decode, features, shingles, MinHash, SimHash — isolates kernel cost from
  * Spark machinery. Usage: runMain graft.tools.KernelBench [nClips] */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 4000
    val c = GraftConf()

    var t0 = System.nanoTime()
    val clips = (0L until (n / 4).toLong).flatMap(g => ClipTableGen.group(c.seed, g)).toArray
    println(f"synth      ${(System.nanoTime() - t0) / 1e9}%6.2f s  (${clips.length} clips)")

    val textMh = new MinHash(c.textNumPerm, c.textSeed)
    val audioMh = new MinHash(c.audioNumPerm, c.audioSeed)

    def timed(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      println(f"$name%-10s ${(System.nanoTime() - t) / 1e9}%6.2f s")
    }

    var sink = 0L
    timed("decode") {
      clips.foreach { cl => sink += WavCodec.decodeShorts(cl.bytes).samples.length }
    }
    val decoded = clips.map(cl => WavCodec.decodeShorts(cl.bytes).samples)
    timed("features") {
      decoded.foreach { s => sink += AudioFeatures.frameTokensFromShorts(s).length }
    }
    val frames = decoded.map(AudioFeatures.frameTokensFromShorts)
    timed("audioShingle") {
      frames.foreach { f => sink += Shingles.longShingles(f, c.audioShingleK, c.seed).length }
    }
    val audioSh = frames.map(f => Shingles.longShingles(f, c.audioShingleK, c.seed))
    timed("audioMinhash") {
      audioSh.foreach { sh => sink += audioMh.signature(sh)(0) }
    }
    val toks = clips.map(cl => Shingles.tokens(cl.transcript))
    timed("textShingle") {
      toks.foreach { t => sink += Shingles.tokenShingles(t, c.textShingleK, c.seed).length }
    }
    val textSh = toks.map(t => Shingles.tokenShingles(t, c.textShingleK, c.seed))
    timed("textMinhash") {
      textSh.foreach { sh => sink += textMh.signature(sh)(0) }
    }
    timed("simhash") {
      textSh.foreach { sh => sink += SimHash.signature(sh, c.simhashBits, SimHash.mixBits(c.simhashSeed)) }
    }
    timed("bandkeys") {
      audioSh.foreach { sh =>
        sink += MinHash.bandKeys(audioMh.signature(sh), c.audioBands, c.audioRows, c.audioSeed)(0)
      }
    }
    println(s"sink=$sink")
  }
}
