package graft.pipeline

import graft.audio.{AudioFeatures, WavCodec}
import graft.conf.GraftConf
import graft.kernel.{BitPack, Hashing, MinHash, Shingles, SimHash}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Per-clip signature row: everything downstream stages need.
  *
  *  - `band_keys`/`band_srcs`: ALL band keys (text-MinHash, audio-MinHash,
  *    SimHash chunks) as one parallel array pair. Keys are family-salted
  *    (each family's keys derive from its own seed stream), so one bucket
  *    shuffle ([[CandidatePairs]]) covers all families; `band_srcs`
  *    carries the family bit ([[Signatures.SrcText]]/[[Signatures.SrcAudio]]/
  *    [[Signatures.SrcSimhash]]) for pair provenance.
  *  - `text_sh`/`audio_sh`: sorted shingle-hash sets (~1 KB/row) and
  *    `toks_h`: ordered token hashes — the verification stage joins
  *    candidates back to THIS table (slim columns) instead of re-shipping
  *    and re-decoding multi-KB audio payloads. The heavy `bytes` column
  *    never leaves the signature scan; shingle sets never travel through
  *    the bucket shuffle (its members are slim rows).
  */
final case class ClipSignature(
    clip_id: String,
    band_keys: Array[Long],
    band_srcs: Array[Int],
    simhash: Long,
    text_sh: Array[Long],
    audio_sh: Array[Long],
    toks_h: Array[Long],
    n_text_shingles: Int,
    n_audio_shingles: Int,
    decode_ok: Boolean)

/** The signature stage — the reimplementation of the reference's
  * partition-parallel hash-function inner loop
  * (`/root/reference/hashIndex/HashCollection.h:66-107`: chunk loop ×
  * per-table OpenMP loop over a BLAS-batched `getHash`). Spark reading:
  * chunk → partition, table → band; one `mapPartitions` pass per partition
  * batches rows through primitive-array kernels (decode → shingle → MinHash
  * → band keys → SimHash) with zero executor RNG and zero driver collection.
  * Stays a typed Dataset op, so Catalyst plans around it (column pruning
  * upstream: only clip_id/bytes/transcript are read).
  */
object Signatures {

  /** Band-source provenance bits (OR-able across families). */
  val SrcText = 1
  val SrcAudio = 2
  val SrcSimhash = 4
  val SrcSubstring = 8 // used by SuffixDups' candidate stream

  def compute(spark: SparkSession, clips: DataFrame, conf: GraftConf): Dataset[ClipSignature] = {
    import spark.implicits._
    val c = conf
    clips
      .selectExpr("clip_id", "bytes", "transcript")
      .as[(String, Array[Byte], String)]
      .mapPartitions { it =>
        // per-partition kernel setup (broadcast-equivalent: derived from conf
        // seeds, so constructing locally is cheaper than shipping matrices)
        val textMh = new MinHash(c.textNumPerm, c.seed ^ 0x7e47L)
        val audioMh = new MinHash(c.audioNumPerm, c.seed ^ 0xa0d10L)
        it.map { case (id, bytes, transcript) =>
          val toks = Shingles.tokens(if (transcript == null) "" else transcript)
          val toksH = new Array[Long](toks.length)
          var ti = 0
          while (ti < toks.length) { toksH(ti) = Hashing.hashString(toks(ti), c.seed); ti += 1 }
          val textSh = Shingles.tokenShinglesFromHashes(toks, toksH, c.textShingleK, c.seed)
          // an empty shingle set gets no band keys (text, audio or SimHash):
          // every empty set would share them, and empty sets never verify
          val textBands =
            if (textSh.nonEmpty)
              MinHash.bandKeys(textMh.signature(textSh), c.textBands, c.textRows, c.seed ^ 0x7e47L)
            else Array.empty[Long]

          var audioSh: Array[Long] = Array.empty
          var decodeOk = false
          if (bytes != null && bytes.length > 0) {
            try {
              // short-domain decode + feature path: bit-identical tokens to
              // the float path (16-bit values are exact in both), no
              // intermediate float buffer allocation
              val dec = WavCodec.decodeShorts(bytes)
              audioSh = AudioFeatures.shinglesFromShorts(dec.samples, c.audioShingleK, c.seed)
              decodeOk = true
            } catch { case _: IllegalArgumentException => () } // malformed row: signature-less, logged via decode_ok
          }
          val audioSig = audioMh.signature(audioSh)
          val audioBands =
            if (decodeOk && audioSh.nonEmpty)
              MinHash.bandKeys(audioSig, c.audioBands, c.audioRows, c.seed ^ 0xa0d10L)
            else Array.empty[Long]

          val sim = SimHash.signature(textSh, c.simhashBits, SimHash.mixBits(c.seed ^ 0x51e4L))
          val simBandVals =
            if (textSh.nonEmpty) BitPack.bands(sim, c.simhashBands, c.simhashBandBits)
            else Array.empty[Long]
          val simBands = new Array[Long](simBandVals.length)
          var si = 0
          while (si < simBandVals.length) {
            simBands(si) = Hashing.combine(Hashing.derive(c.seed ^ 0x51e4L, 0xb000 + si), simBandVals(si))
            si += 1
          }

          // one concatenated band-key stream; family provenance in band_srcs
          val nKeys = textBands.length + audioBands.length + simBands.length
          val keys = new Array[Long](nKeys)
          val srcs = new Array[Int](nKeys)
          var k = 0
          var i = 0
          while (i < textBands.length) { keys(k) = textBands(i); srcs(k) = SrcText; k += 1; i += 1 }
          i = 0
          while (i < audioBands.length) { keys(k) = audioBands(i); srcs(k) = SrcAudio; k += 1; i += 1 }
          i = 0
          while (i < simBands.length) { keys(k) = simBands(i); srcs(k) = SrcSimhash; k += 1; i += 1 }

          ClipSignature(id, keys, srcs, sim, textSh, audioSh, toksH,
            textSh.length, audioSh.length, decodeOk)
        }
      }
  }
}
