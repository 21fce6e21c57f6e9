package graft.pipeline

import graft.conf.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-pair verification — reference operator Q7: LSH recall is
  * probabilistic, so every candidate is re-checked exactly before it becomes
  * an edge (`/root/reference/hashIndex/HashCollection.h:263`: exact L2
  * re-rank of hash candidates; here exact shingle Jaccard / token-substring
  * containment, the dedup metrics).
  *
  * One pass: each pair joins the SIGNATURE table once per side (text
  * shingles, token hashes and audio shingles, ~1.6 KB a side; the multi-KB
  * `bytes` column never travels through a verification shuffle and audio is
  * never re-decoded), and one projection scores it. Shipping the audio
  * sets only for text-rejected pairs would save little: at 200k rows over
  * 90 % of the candidates fail the text test.
  *
  * Accept rule: text Jaccard ≥ θ_text OR audio Jaccard ≥ θ_audio OR one
  * side's token sequence contains the other's; `reasons` lists every test
  * that passed.
  */
object VerifyPairs {

  /** Verified edges. `release` does nothing: verify holds no intermediate.
    * It stays for callers that wire the stages themselves. */
  final case class Verified(edges: DataFrame, release: () => Unit = () => ())

  /** pairs (a, b, sources, capped) × signatures (clip_id, text_sh,
    * audio_sh, toks_h)
    * → verified edges (a, b, text_jaccard, audio_jaccard, substring,
    *   accepted, reasons). A pair with an id that has no signature drops
    * out. */
  def verify(spark: SparkSession, pairs: DataFrame, signatures: DataFrame,
      conf: GraftConf): Verified = {
    import spark.implicits._

    // Native codegen expressions, not a typed map: every column below stays
    // a zero-copy read of the joined UnsafeRow, and the whole pass —
    // join → jaccard/substring → accept flag — is one codegen'd stage (a
    // Dataset.map would decode each pair's arrays to JVM arrays and
    // re-encode the result, the highest-volume copy in the pipeline).
    import graft.functions.ArraySetExprs.{containsSubseq, jaccardSorted}
    val side = signatures.select($"clip_id", $"text_sh", $"toks_h", $"audio_sh")
    def named(s: String) = side.select($"clip_id".as(s), $"text_sh".as(s"tsh_$s"),
      $"toks_h".as(s"th_$s"), $"audio_sh".as(s"ash_$s"))
    val scored = pairs.join(named("a"), Seq("a")).join(named("b"), Seq("b"))
      .select($"a", $"b",
        jaccardSorted($"tsh_a", $"tsh_b").as("text_jaccard"),
        coalesce(jaccardSorted($"ash_a", $"ash_b"), lit(0.0)).as("audio_jaccard"),
        (containsSubseq($"th_a", $"th_b") || containsSubseq($"th_b", $"th_a")).as("substring"))
    val text = $"text_jaccard" >= conf.textJaccardThreshold
    val audio = $"audio_jaccard" >= conf.audioJaccardThreshold
    Verified(scored.select($"a", $"b", $"text_jaccard", $"audio_jaccard", $"substring",
      (text || audio || $"substring").as("accepted"),
      array_compact(array(when(text, "text"), when(audio, "audio"), when($"substring", "substring")))
        .as("reasons")))
  }

  /** inner's token-hash sequence appears contiguously in outer's — the
    * token-domain exact-substring check (64-bit token hashes make a false
    * positive a ~2^-64 event). Empty inner never matches (a clip with no
    * transcript is not "contained" in everything). */
  def isSubSequence(inner: Array[Long], outer: Array[Long]): Boolean = {
    if (inner.isEmpty || inner.length > outer.length) return false
    var i = 0
    val limit = outer.length - inner.length
    while (i <= limit) {
      var j = 0
      while (j < inner.length && outer(i + j) == inner(j)) j += 1
      if (j == inner.length) return true
      i += 1
    }
    false
  }
}
