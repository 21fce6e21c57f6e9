package graft.pipeline

import graft.conf.GraftConf
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Bucket shuffle → candidate pairs (reference operators B1/B2 + Q4): the
  * one pair generator behind the pipeline's candidate pass
  * ([[fromSignatures]]) and its one-kind calls, the band pass
  * ([[fromBands]]) and the substring pass ([[SuffixDups]]).
  *
  * The reference materializes per-table hash buckets (CSR scatter,
  * `/root/reference/hashIndex/StdHashIndex.h:31-74`) and probes them per
  * query, scanning each bucket in order and truncating the scan at a
  * retrieval budget (`StdHashIndex.h:159-183`). For all-pairs dedup the
  * bucket directory is never materialized: a hash exchange on the key plus
  * a sort on (key, kind, clip_id) IS the hash table, and one pass over each
  * sorted partition streams bucket after bucket, in id order, emitting the
  * member pairs directly (SURVEY §2.4/§7.4). Members are [[Member]] rows of
  * one of two kinds: a band key of a clip (its L hash tables, SURVEY §7.0;
  * every band member probes) or a W-token window hash of its transcript
  * ([[SuffixDups]]; probing on the document's first window). A bucket is a
  * (key, kind), so a band key and a window hash never share one. Adjacent
  * rows of one clip id merge (their `src` bits and `probe` flags OR), so a
  * repeated id counts once and is never paired with itself. Output is a
  * RAW (a, b, sources, capped) stream with a < b (Scala `String` order),
  * not deduplicated across buckets: the caller's final groupBy(a, b) is
  * the single dedup shuffle.
  *
  * Bucket rules:
  *  - A bucket of ≤ `bucketCap` distinct ids pairs each probe member with
  *    every other member (`capped = false`), and `sources` is the OR of
  *    the bucket's `src` bits. Band members all probe, so a band bucket
  *    yields all C(n,2) pairs.
  *  - A larger bucket — the skew the 10^12-scale corpus brings (an ad
  *    aired 200 times puts 200 clips on each of its band keys, which would
  *    emit O(s²) pairs) — emits the id-order chain (each member with its
  *    previous `chainWidth` members), plus its first n probe members against
  *    its first `bucketCap` members, all flagged `capped`, with `sources`
  *    the OR of its first `bucketCap + 1` members, fixed before its first
  *    pair streams out. The capped-probe budget n is 0 for a band bucket
  *    and [[SuffixDups.SeedProbeLimit]] for a window bucket.
  *    The chain keeps a bucket of true dups connected (dup relations inside
  *    it are transitive through verification) in O(s) pairs; capped
  *    buckets are flagged, never silently dropped.
  *
  * A task holds at most `bucketCap + 1` members plus a ring of the last
  * `chainWidth` ids, whatever the bucket size, and the output is a pure
  * function of the member multiset. Id order is Spark's binary UTF-8
  * order, which equals `String` order on ASCII ids.
  *
  * `sources` caveat (ACCEPTED EDGES are unaffected, verification is
  * exact): it is applied to every pair of the bucket, and family-salted
  * Long keys can collide across families (birthday-likely at 10^12 rows) —
  * so a pair's bitmask may name a family that never produced that specific
  * pair. Treat it as diagnostic lineage, not exact attribution.
  */
object CandidatePairs {

  /** Clip `id` in bucket (`key`, `window`): a window hash when `window`,
    * else a band key. */
  private[pipeline] final case class Member(key: Long, window: Boolean, id: String, src: Int, probe: Boolean)

  /** signatures (clip_id, band_keys, band_srcs, toks_h) → raw pair stream
    * (a, b, sources, capped) of every band and window member, in one
    * exchange and sort. */
  def fromSignatures(signatures: DataFrame, conf: GraftConf): DataFrame = {
    import signatures.sparkSession.implicits._
    bucketPairs(signatures.select($"clip_id", $"band_keys", $"band_srcs", $"toks_h")
      .as[(String, Array[Long], Array[Int], Array[Long])]
      .flatMap { case (id, keys, srcs, toksH) =>
        Iterator.range(0, keys.length).map(i => Member(keys(i), window = false, id, srcs(i), probe = true)) ++
          SuffixDups.windowMembers(id, toksH, conf)
      }, conf)
  }

  /** bands (band_key: Long, src: Int, clip_id: String) → raw pair stream
    * (a, b, sources, capped). A null `band_key` or `src` fails the task
    * (the typed decode of a primitive field) instead of reading as 0. */
  def fromBands(spark: SparkSession, bands: DataFrame, conf: GraftConf): DataFrame = {
    import spark.implicits._
    bucketPairs(bands.select($"band_key", $"src", $"clip_id").as[(Long, Int, String)]
      .map { case (key, src, id) => Member(key, window = false, id, src, probe = true) }, conf)
  }

  private[pipeline] def bucketPairs(members: Dataset[Member], conf: GraftConf): DataFrame = {
    import members.sparkSession.implicits._
    members
      .repartition($"key")
      .sortWithinPartitions($"key", $"window", $"id")
      .mapPartitions(rows => new BucketStream(rows, conf.bucketCap, conf.chainWidth).pairs)
      .toDF("a", "b", "sources", "capped")
  }

  /** The bucket rules (class doc) over one (key, window, id)-sorted
    * partition. Each step fills `out` from one bucket of ≤ `cap` ids, from
    * the first `cap + 1` ids of a larger one, or from one further id of it. */
  private final class BucketStream(rows: Iterator[Member], cap: Int, width: Int) {
    private val in = rows.buffered
    private val out = new ArrayBuffer[(String, String, Int, Boolean)]()
    // the bucket's first row: its (key, window) names the bucket
    private var bucket: Member = _
    // the id readMember merged last
    private var id: String = _
    private var idSrc = 0
    private var idProbe = false
    // the bucket's first cap + 1 ids, and the state of its capped pass
    private val head = new Array[String](cap + 1)
    private val headProbe = new Array[Boolean](cap + 1)
    private var src = 0
    private var streaming = false
    private var probesLeft = 0
    private val ring = new Array[String](width)
    private var ringAt = 0
    private var filled = 0

    def pairs: Iterator[(String, String, Int, Boolean)] =
      Iterator.continually(step()).takeWhile(identity).flatMap(_ => out)

    private def inBucket: Boolean =
      in.hasNext && in.head.key == bucket.key && in.head.window == bucket.window

    /** Merges the adjacent rows of the next id of the bucket; false at its
      * end. */
    private def readMember(): Boolean = inBucket && {
      val r = in.next()
      id = r.id; idSrc = r.src; idProbe = r.probe
      while (inBucket && in.head.id == id) {
        val d = in.next()
        idSrc |= d.src; idProbe |= d.probe
      }
      true
    }

    private def pair(x: String, y: String, capped: Boolean): Unit =
      out += (if (x < y) (x, y, src, capped) else (y, x, src, capped))

    /** One member of a capped bucket's pass; `self` is its index in `head`,
      * -1 past it. */
    private def cappedMember(x: String, probe: Boolean, self: Int): Unit = {
      var k = 0
      while (k < filled) { pair(ring(k), x, capped = true); k += 1 }
      if (probe && probesLeft > 0) {
        probesLeft -= 1
        var j = 0
        while (j < cap) { if (j != self) pair(head(j), x, capped = true); j += 1 }
      }
      ring(ringAt) = x
      ringAt = (ringAt + 1) % width
      if (filled < width) filled += 1
    }

    private def step(): Boolean = {
      out.clear()
      if (streaming) {
        if (readMember()) cappedMember(id, idProbe, -1) else streaming = false
        true
      } else in.hasNext && {
        bucket = in.head
        src = 0
        var n = 0
        while (n <= cap && readMember()) {
          head(n) = id; headProbe(n) = idProbe; src |= idSrc
          n += 1
        }
        if (n <= cap) {
          for (i <- 0 until n; j <- i + 1 until n if headProbe(i) || headProbe(j))
            pair(head(i), head(j), capped = false)
        } else {
          probesLeft = if (bucket.window) SuffixDups.SeedProbeLimit else 0
          ringAt = 0
          filled = 0
          for (i <- 0 until n) cappedMember(head(i), headProbe(i), i)
          streaming = true
        }
        true
      }
    }
  }
}
