package graft.pipeline

import graft.conf.GraftConf
import graft.kernel.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exact-substring duplicate pass: finds pairs (a, b) where a's full token
  * sequence appears verbatim inside b's — duplicates MinHash misses because
  * containment Jaccard = |a| / |b| can sit far below any near-dup threshold.
  *
  * Seed-and-extend design (the scalable reading of SURVEY §7.5): every
  * document emits a hash for each of its W-token windows (O(total tokens)
  * rows — the suffix-array analogue of indexing every suffix, truncated to
  * W-token prefixes), distinct per (hash, doc) so a repeated phrase costs
  * one row. The FIRST window doubles as the document's probe seed, so one
  * pass over the corpus produces both sides of the seed↔window join: the
  * windows are window-kind buckets of [[CandidatePairs]] with the seeds as
  * probe members. A hot-phrase bucket over `bucketCap` keeps the chain and
  * fans out at most [[SeedProbeLimit]] seeds against its first `bucketCap`
  * id-sorted members — docs sharing one boilerplate window are mostly NOT
  * mutual dups, so chain edges alone would lose a container far away in id
  * order; a container beyond the first `bucketCap` members of a capped
  * bucket is still missed (documented recall limit, flagged `capped`).
  * Candidates get exact containment verification in [[VerifyPairs]].
  *
  * Documents shorter than W tokens are out of scope of this pass (exact
  * equality and MinHash cover them); documented limitation.
  */
object SuffixDups {

  /** Max seed-flagged members that fan out probes inside a capped
    * hot-phrase group (bounds the extra rows at SeedProbeLimit·bucketCap). */
  val SeedProbeLimit = 64

  /** Candidate substring edges (a, b, sources = SrcSubstring, capped), a's
    * text potentially inside b's, a != b, from ordered token hashes
    * (clip_id, toks_h) — the window members alone of the pipeline's pass
    * ([[CandidatePairs.fromSignatures]]). Verification happens in
    * VerifyPairs. */
  def candidatesFromTokenHashes(spark: SparkSession, tokens: DataFrame,
      conf: GraftConf): DataFrame = {
    import spark.implicits._
    CandidatePairs.bucketPairs(tokens.select($"clip_id", $"toks_h").as[(String, Array[Long])]
      .flatMap { case (id, toksH) => windowMembers(id, toksH, conf) }, conf)
  }

  /** One document's window members: one per distinct W-token window hash,
    * probing when the window is the document's first; none below W
    * tokens. */
  private[pipeline] def windowMembers(id: String, toksH: Array[Long],
      conf: GraftConf): Iterator[CandidatePairs.Member] = {
    val w = conf.substringWindow
    if (toksH == null || toksH.length < w) Iterator.empty
    else {
      val hashes = Array.tabulate(toksH.length - w + 1) { i =>
        var h = conf.windowSeed
        var j = 0
        while (j < w) { h = Hashing.combine(h, toksH(i + j)); j += 1 }
        h
      }
      hashes.distinct.iterator.map(h =>
        CandidatePairs.Member(h, window = true, id, Signatures.SrcSubstring, probe = h == hashes(0)))
    }
  }
}
