package graft.conf

/** Engine configuration — the runtime replacement for the reference's
  * compile-time template instantiation (`HashCollection<Transformer, Hash,
  * Index, MAT>`, `/root/reference/hashIndex/HashCollection.h:21-22`, and the
  * SIKH/PCARR/LSHFOREST compile flags). One engine, one config case class;
  * every pseudo-random draw anywhere derives from `seed`.
  *
  * MinHash banding is the dedup reading of the reference's L-tables × b-bits
  * collection: `bands` ↔ tables, `rows` ↔ bits per table (SURVEY §7.0).
  */
final case class GraftConf(
    seed: Long = 42L,
    // transcript shingling + MinHash banding
    textShingleK: Int = 3,
    textBands: Int = 16,
    textRows: Int = 4,
    // audio shingling + MinHash banding
    audioShingleK: Int = 4,
    audioBands: Int = 16,
    audioRows: Int = 4,
    // SimHash
    simhashBits: Int = 60,
    simhashBands: Int = 4,
    simhashMaxHamming: Int = 8,
    // verification thresholds (exact Jaccard on shingle sets, operator Q7)
    textJaccardThreshold: Double = 0.7,
    audioJaccardThreshold: Double = 0.6,
    // substring pass: seed-window width in tokens
    substringWindow: Int = 10,
    // skew: max bucket size before the chain-pair fallback (SURVEY §7.4).
    // Buckets above this emit O(s) chain pairs instead of O(s²). True dup
    // groups are small (≤7 variants in the fixture; bounded in any real
    // corpus), while common-phrase band collisions grow ∝ corpus size —
    // measured at 800k clips, buckets of 17–128 members (the Zipf tail of
    // shared phrases, sizes ∝ corpus) contributed 42M of 59M candidate
    // pairs with essentially no true dups among them (the reference's own
    // bucket scans are likewise truncated at the retrieval budget,
    // StdHashIndex.h:159-183). 16 keeps every true group (≤7 variants)
    // on the exact path and pushes collision buckets onto the linear
    // chain path — the asymptotic regime any fixed cap reaches at scale.
    bucketCap: Int = 16,
    chainWidth: Int = 2,
    // connected components: loop-round bound; reaching it throws
    maxCcIterations: Int = 50,
    // checkpointing
    checkpointDir: Option[String] = None
) {
  def textNumPerm: Int = textBands * textRows
  def audioNumPerm: Int = audioBands * audioRows
  require(simhashBits % simhashBands == 0, "simhash bands must divide bits")
  require(chainWidth >= 1, "chainWidth must be positive")
  require(maxCcIterations >= 1, "maxCcIterations must be >= 1: confirming a CC fixpoint takes one round")
  def simhashBandBits: Int = simhashBits / simhashBands
}
