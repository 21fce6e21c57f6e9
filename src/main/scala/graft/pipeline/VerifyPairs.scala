package graft.pipeline

import graft.conf.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Candidate-pair verification — reference operator Q7: LSH recall is
  * probabilistic, so every candidate is re-checked exactly before it becomes
  * an edge (`/root/reference/hashIndex/HashCollection.h:263`: exact L2
  * re-rank of hash candidates; here exact shingle Jaccard / token-substring
  * containment, the dedup metrics).
  *
  * Scale design — two phases, both joining the SIGNATURE table only (the
  * multi-KB `bytes` column never travels through a verification shuffle and
  * audio is never re-decoded):
  *
  *  1. TEXT phase: pairs join the slim text columns (sorted text-shingle
  *     hashes + ordered token hashes, ~0.6 KB/side) for exact text Jaccard
  *     and substring containment (a subarray search over token hashes).
  *  2. AUDIO phase: only pairs the text phase did NOT accept join the audio
  *     shingle sets (~1 KB/side) for exact audio Jaccard. In a dup-heavy
  *     corpus most true pairs are text-accepted, so the heavy payload ships
  *     for a small residue.
  *
  * The output is the union of two disjoint halves of the persisted text
  * phase: the text-accepted pairs (`audio_jaccard` 0.0) and the residue,
  * which carries its text columns through the two audio joins. No row
  * joins back to the text phase on `(a, b)` — that join re-shuffled every
  * pair, and its stages cost three Spark jobs per run.
  *
  * The accept rule is unchanged (text ≥ θ_text OR audio ≥ θ_audio OR
  * substring — audio can only ADD accepts, so skipping it for already-
  * accepted pairs cannot change the edge set); `audio_jaccard` is reported
  * as 0.0 for pairs that short-circuited.
  */
object VerifyPairs {

  /** Verified edges + a release hook for the internally persisted
    * text-phase intermediate (call once the edge set is materialized —
    * repeated pipeline runs in one session otherwise accumulate
    * block-manager storage). */
  final case class Verified(edges: DataFrame, release: () => Unit)

  /** pairs (a, b, sources, capped) × signatures (clip_id, text_sh,
    * audio_sh, toks_h)
    * → verified edges (a, b, text_jaccard, audio_jaccard, substring,
    *   accepted, reasons).
    *
    * Metric-reporting caveat (the ACCEPTED EDGE SET is exact either way):
    * `audio_jaccard` is 0.0 for pairs the text phase already accepted —
    * the audio payload is only shipped for the residue, so the reported
    * per-pair audio metric is phase-dependent, not ground truth. */
  def verify(spark: SparkSession, pairs: DataFrame, signatures: DataFrame,
      conf: GraftConf): Verified = {
    import spark.implicits._
    val c = conf

    // Native codegen expressions, not a typed map: every column below stays
    // a zero-copy read of the joined UnsafeRow, and the whole phase —
    // join → jaccard/substring → accept flag — is one codegen'd pass (the
    // previous Dataset.map decoded 4 Array[Long]s per PAIR to JVM arrays
    // and re-encoded the result, the highest-volume copy in the pipeline).
    import graft.functions.ArraySetExprs.{containsSubseq, jaccardSorted}
    val textSide = signatures.select($"clip_id", $"text_sh", $"toks_h")
    val textPhase = pairs
      .join(textSide.select($"clip_id".as("a"), $"text_sh".as("tsh_a"), $"toks_h".as("th_a")), Seq("a"))
      .join(textSide.select($"clip_id".as("b"), $"text_sh".as("tsh_b"), $"toks_h".as("th_b")), Seq("b"))
      .select($"a", $"b",
        jaccardSorted($"tsh_a", $"tsh_b").as("text_jaccard"),
        (containsSubseq($"th_a", $"th_b") || containsSubseq($"th_b", $"th_a")).as("substring"))
      .withColumn("text_accepted",
        $"text_jaccard" >= c.textJaccardThreshold || $"substring")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // disjoint halves, unioned (class doc)
    val audioSide = signatures.select($"clip_id", $"audio_sh")
    val residue = textPhase.filter(!$"text_accepted")
      .join(audioSide.select($"clip_id".as("a"), $"audio_sh".as("ash_a")), Seq("a"))
      .join(audioSide.select($"clip_id".as("b"), $"audio_sh".as("ash_b")), Seq("b"))
      .select($"a", $"b", $"text_jaccard", $"substring", $"text_accepted",
        jaccardSorted($"ash_a", $"ash_b").as("audio_jaccard"))
    val textAccepted = textPhase.filter($"text_accepted")
      .select($"a", $"b", $"text_jaccard", $"substring", $"text_accepted", lit(0.0).as("audio_jaccard"))

    val edges = textAccepted.union(residue)
      .select($"a", $"b", $"text_jaccard",
        coalesce($"audio_jaccard", lit(0.0)).as("audio_jaccard"),
        $"substring",
        ($"text_accepted" || coalesce($"audio_jaccard", lit(0.0)) >= c.audioJaccardThreshold).as("accepted"),
        array_compact(array(
          when($"text_jaccard" >= c.textJaccardThreshold, "text"),
          when(coalesce($"audio_jaccard", lit(0.0)) >= c.audioJaccardThreshold, "audio"),
          when($"substring", "substring"))).as("reasons"))
    Verified(edges, () => { textPhase.unpersist(false); () })
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
