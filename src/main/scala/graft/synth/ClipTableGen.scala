package graft.synth

import graft.audio.WavCodec
import graft.kernel.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One row of the BASELINE.json input_hint table. */
final case class Clip(
    clip_id: String,
    bytes: Array[Byte],
    sr_hz: Int,
    dur_ms: Int,
    codec: String,
    transcript: String,
    // generator-only provenance for tests (golden truth); real inputs
    // would not carry these. Dropped by [[ClipTableGen.table]].
    group_id: Long,
    variant: String
)

/** Deterministic synthetic audio+transcript table with planted duplicate
  * groups (FIXTURES.md §1) — the engine's stand-in for the 10^12-row Iceberg
  * table (task constraint: no external data). Mirrors the reference's test
  * protocol: synthetic base + known ground truth
  * (`/root/reference/UnitTests.cpp:50-54`,
  * `/root/reference/testing/TestLSH.h:150-180`), except truth here is
  * planted by construction instead of brute-forced.
  *
  * Every row is a pure function of (seed, groupIdx, variantIdx): generation
  * runs distributed via `spark.range(groups).flatMap` with no executor RNG
  * and no driver materialization.
  *
  * Variants per master (count seeded 0–6, FIXTURES.md §1):
  *   exact    — byte-identical audio + transcript
  *   audionear— same signal, −40 dB noise + ≤1% gain change (SNR ≥ 30 dB)
  *   textnear — 1 token substitution below 30 tokens, 2 from 30 on. Two
  *              substitutions apart change 6 of the L − 2 3-shingles, so
  *              Jaccard (L − 8)/(L + 4) falls below 0.7 for 30–35 tokens:
  *              not every textnear variant is a text dup of its master
  *   textsub  — transcript is a verbatim token window of the master's
  *   hardneg  — ~50% token overlap; must NOT cluster
  */
object ClipTableGen {

  val Codec = "pcm_s16le"

  /** 512-word deterministic vocabulary. */
  val vocab: Array[String] = {
    val syll = Array("ka", "to", "mi", "ra", "su", "ne", "vo", "li",
      "da", "pe", "sho", "gu", "tri", "ben", "for", "wel")
    Array.tabulate(512) { i =>
      syll(i & 15) + syll((i >> 4) & 15) + (if (((i >> 8) & 1) == 1) "n" else "")
    }
  }

  final case class GoldenRow(clip_id: String, group_id: Long, variant: String)

  def clipId(seed: Long, group: Long, variant: Int): String =
    f"c${Hashing.derive(seed ^ 0xc11bL, group * 64 + variant)}%016x"

  /** Number of dup variants for a group (0–6). */
  def variantCount(seed: Long, group: Long): Int =
    (Hashing.derive(seed ^ 0x9a0bL, group).abs % 7).toInt

  private val variantKinds =
    Array("exact", "audionear", "textnear", "textsub", "hardneg")

  def variantKind(seed: Long, group: Long, v: Int): String =
    variantKinds((Hashing.derive(seed ^ 0x7a3fL, group * 64 + v).abs % variantKinds.length).toInt)

  // ---------------- audio synthesis ----------------

  /** Master PCM: non-stationary seeded "syllable" segments (512 samples
    * each = exactly 2 feature frames, so frames never straddle segment
    * boundaries), each segment a sine at a seeded freq/amplitude, plus low
    * seeded noise. Non-stationarity makes the frame-token sequence
    * informative — distinct groups get distinct shingle sets. 0.2–2.0 s
    * (FIXTURES.md §1). */
  private def masterSamples(seed: Long, group: Long): (Array[Short], Int) = {
    val srHz = if ((Hashing.derive(seed ^ 0x5aL, group) & 1L) == 1L) 16000 else 8000
    val durMs = 200 + (Hashing.derive(seed ^ 0xd4L, group).abs % 1800).toInt
    val seg = 512
    val nSeg = math.max(4, srHz * durMs / 1000 / seg)
    val n = nSeg * seg
    val out = new Array[Short](n)
    val nz = seed ^ 0x4e0153L ^ group
    var s = 0
    while (s < nSeg) {
      val freq = 100.0 + (Hashing.derive(seed ^ 0xf1L ^ group, s).abs % 2000).toDouble
      val amp = 0.10 + (Hashing.derive(seed ^ 0xa2L ^ group, s).abs % 9).toDouble * 0.05 // 0.10–0.50
      var j = 0
      while (j < seg) {
        val i = s * seg + j
        val noise = ((Hashing.derive(nz, i) >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 0.002
        val x = amp * math.sin(2 * math.Pi * freq * (j.toDouble / srHz)) + noise
        out(i) = math.max(-32768, math.min(32767, math.round(x * 32767.0))).toShort
        j += 1
      }
      s += 1
    }
    (out, srHz)
  }

  /** −40 dB additive noise + small gain change; SNR vs master stays ≥ 30 dB. */
  private def nearDupSamples(master: Array[Short], seed: Long, group: Long, v: Int): Array[Short] = {
    val gain = 1.0 + ((Hashing.derive(seed ^ 0x9411L, group * 64 + v).abs % 2001).toDouble - 1000.0) / 100000.0 // ±1%
    val nz = seed ^ 0x401fL ^ (group * 64 + v)
    val out = new Array[Short](master.length)
    var i = 0
    while (i < master.length) {
      val noise = ((Hashing.derive(nz, i) >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 2.0 * 0.003 * 32767.0
      val x = master(i) * gain + noise
      out(i) = math.max(-32768, math.min(32767, math.round(x))).toShort
      i += 1
    }
    out
  }

  // ---------------- transcript synthesis ----------------

  private def masterTokens(seed: Long, group: Long): Array[String] = {
    val len = 20 + (Hashing.derive(seed ^ 0x77L, group).abs % 41).toInt // 20–60
    Array.tabulate(len)(i =>
      vocab((Hashing.derive(seed ^ 0x70c5L ^ group, i).abs % vocab.length).toInt))
  }

  private def substituteTokens(toks: Array[String], seed: Long, key: Long): Array[String] = {
    val out = toks.clone()
    val nSub = if (toks.length < 30) 1 else 2
    var s = 0
    while (s < nSub) {
      val pos = (Hashing.derive(seed ^ 0x5b5bL ^ key, s * 2).abs % toks.length).toInt
      out(pos) = vocab((Hashing.derive(seed ^ 0x5b5cL ^ key, s * 2 + 1).abs % vocab.length).toInt)
      s += 1
    }
    out
  }

  private def windowTokens(toks: Array[String], seed: Long, key: Long, minW: Int): Array[String] = {
    val w = math.max(minW, toks.length / 2)
    if (toks.length <= w) toks
    else {
      val start = (Hashing.derive(seed ^ 0x30a1L ^ key, 0).abs % (toks.length - w + 1)).toInt
      toks.slice(start, start + w)
    }
  }

  private def hardNegativeTokens(toks: Array[String], seed: Long, key: Long): Array[String] =
    Array.tabulate(toks.length) { i =>
      if (i % 2 == 0) toks(i)
      else vocab((Hashing.derive(seed ^ 0xbad0L ^ key, i).abs % vocab.length).toInt)
    }

  // ---------------- row assembly ----------------

  /** All rows of one duplicate group (master + its variants). */
  def group(seed: Long, g: Long): Seq[Clip] = {
    val (master, srHz) = masterSamples(seed, g)
    val mToks = masterTokens(seed, g)
    val mText = mToks.mkString(" ")
    def mkClip(v: Int, kind: String, samples: Array[Short], sr: Int, text: String): Clip = {
      val bytes = WavCodec.encode(samples, sr)
      Clip(clipId(seed, g, v), bytes, sr, samples.length * 1000 / sr, Codec, text, g, kind)
    }
    val masterClip = mkClip(0, "master", master, srHz, mText)
    val variants = (1 to variantCount(seed, g)).map { v =>
      val key = g * 64 + v
      variantKind(seed, g, v) match {
        case "exact" => mkClip(v, "exact", master, srHz, mText)
        case "audionear" =>
          mkClip(v, "audionear", nearDupSamples(master, seed, g, v), srHz, mText)
        case "textnear" =>
          // fresh audio from a nonlinearly derived seed (raw XOR composition
          // of structured keys collides: seed^c1^(k) == seed^c2^(k^(c1^c2)))
          // so only the text edge links it to the master
          val (aud, sr2) = masterSamples(Hashing.derive(seed ^ 0x77001L, key), key)
          mkClip(v, "textnear", aud, sr2, substituteTokens(mToks, seed, key).mkString(" "))
        case "textsub" =>
          val (aud, sr2) = masterSamples(Hashing.derive(seed ^ 0x77002L, key), key)
          mkClip(v, "textsub", aud, sr2, windowTokens(mToks, seed, key, 10).mkString(" "))
        case "hardneg" =>
          val (aud, sr2) = masterSamples(Hashing.derive(seed ^ 0x77003L, key), key)
          mkClip(v, "hardneg", aud, sr2, hardNegativeTokens(mToks, seed, key).mkString(" "))
      }
    }
    masterClip +: variants
  }

  /** Distributed table of ~n rows (masters = n/4, mean group size ≈ 4).
    * Includes provenance columns; use [[table]] for the input_hint shape. */
  def tableWithTruth(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[Clip] = {
    import spark.implicits._
    val groups = math.max(1, n / 4)
    spark.range(groups).flatMap(g => group(seed, g))
  }

  /** The input_hint-shaped table (provenance dropped). */
  def table(spark: SparkSession, n: Int, seed: Long = 42L): DataFrame =
    tableWithTruth(spark, n, seed)
      .select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")

  /** Driver-side golden truth for a small n: expected cluster co-membership.
    * A clip belongs to its master's cluster unless it is a hard negative.
    * Exposed as (clip_id → cluster key) for pairwise recall/precision. */
  def goldenClusters(n: Int, seed: Long = 42L): Map[String, String] = {
    val groups = math.max(1, n / 4)
    (0L until groups).flatMap { g =>
      val masterId = clipId(seed, g, 0)
      val rows = (0 to variantCount(seed, g)).map { v =>
        val kind = if (v == 0) "master" else variantKind(seed, g, v)
        val id = clipId(seed, g, v)
        val cluster = if (kind == "hardneg") s"solo-$id" else s"grp-$g-$masterId"
        id -> cluster
      }
      rows
    }.toMap
  }
}
