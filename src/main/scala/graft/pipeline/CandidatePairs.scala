package graft.pipeline

import graft.conf.GraftConf
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit

import scala.collection.mutable.ArrayBuffer

/** Bucket shuffle → candidate pairs (reference operators B1/B2 + Q4), the
  * one pair generator behind both the band pass ([[fromBands]]) and the
  * substring pass ([[SuffixDups]]).
  *
  * The reference materializes per-table hash buckets (CSR scatter,
  * `/root/reference/hashIndex/StdHashIndex.h:31-74`) and probes them per
  * query; for all-pairs dedup the bucket directory is never materialized —
  * the `groupByKey(key)` shuffle IS the hash table, and each group emits
  * its member pairs directly (SURVEY §2.4/§7.4). Members are
  * (key, clip_id, src, probe) rows; a clip id repeated in one bucket counts
  * once (probing if any of its rows probes) and is never paired with
  * itself. Output is a RAW (a, b, sources, capped) stream with a < b, not
  * deduplicated across buckets: the caller's final groupBy(a, b) is the
  * single dedup shuffle for all candidate streams.
  *
  * Bucket rules:
  *  - A bucket of ≤ `bucketCap` distinct ids pairs each probe member with
  *    every other member (`capped = false`). Band members all probe, so a
  *    band bucket yields all C(n,2) pairs.
  *  - A larger bucket — the skew the 10^12-scale corpus brings (a hot key
  *    such as an empty-transcript signature would emit O(s²) pairs) —
  *    emits the id-order chain (each member with its next `chainWidth`
  *    neighbours), plus its first `cappedProbes` probe members against its
  *    first `bucketCap` members, all flagged `capped`. The chain keeps a
  *    bucket of true dups connected (dup relations inside it are
  *    transitive through verification) in O(s) pairs; capped buckets are
  *    flagged, never silently dropped.
  *  - At most `bucketHardStop` members are buffered per task. Members
  *    beyond it stream through a ring buffer of the last `chainWidth`
  *    members, bridged to the sorted chain's tail, and probe members among
  *    them still fan out while the `cappedProbes` budget lasts: O(width)
  *    memory, nothing dropped, the bucket stays connected. Caveat: those
  *    overflow pairs depend on shuffle arrival order, so buckets above
  *    `bucketHardStop` (4M default — never reached by real band buckets,
  *    which `bucketCap` already chains) are connected-but-nondeterministic
  *    rather than truncated or an OOM.
  *
  * `sources` caveat (ACCEPTED EDGES are unaffected, verification is
  * exact): it is the OR of the buffered members' `src` bits, applied to
  * every pair of the bucket, and family-salted Long keys can collide across
  * families (birthday-likely at 10^12 rows) — so a pair's bitmask may name
  * a family that never produced that specific pair. Treat it as diagnostic
  * lineage, not exact attribution.
  */
object CandidatePairs {

  /** bands (band_key: Long, src: Int, clip_id: String) → raw pair stream
    * (a, b, sources, capped); every member probes. */
  def fromBands(spark: SparkSession, bands: DataFrame, conf: GraftConf): DataFrame = {
    import spark.implicits._
    bucketPairs(bands.select($"band_key", $"clip_id", $"src", lit(true))
      .as[(Long, String, Int, Boolean)], conf, cappedProbes = 0)
  }

  private[pipeline] def bucketPairs(members: Dataset[(Long, String, Int, Boolean)],
      conf: GraftConf, cappedProbes: Int): DataFrame = {
    import members.sparkSession.implicits._
    val cap = conf.bucketCap
    val width = conf.chainWidth
    val hardStop = conf.bucketHardStop
    def cappedPair(x: String, y: String, src: Int) =
      if (x < y) (x, y, src, true) else (y, x, src, true)
    members
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, rows: Iterator[(Long, String, Int, Boolean)]) =>
        val buf = new ArrayBuffer[(String, Boolean)]()
        var src = 0
        while (rows.hasNext && buf.length < hardStop) {
          val r = rows.next()
          buf += ((r._2, r._4))
          src |= r._3
        }
        val ids = new ArrayBuffer[String](buf.length)
        val probe = new ArrayBuffer[Boolean](buf.length)
        buf.sortInPlaceBy(_._1).foreach { case (id, p) =>
          if (ids.nonEmpty && ids.last == id) probe(probe.length - 1) |= p
          else { ids += id; probe += p }
        }
        val n = ids.length
        val overflowing = rows.hasNext
        val head: Iterator[(String, String, Int, Boolean)] =
          if (n <= cap && !overflowing)
            for {
              i <- Iterator.range(0, n)
              j <- Iterator.range(i + 1, n) if probe(i) || probe(j)
            } yield (ids(i), ids(j), src, false)
          else {
            val chain = for {
              i <- Iterator.range(0, n)
              j <- Iterator.range(i + 1, math.min(i + width, n - 1) + 1)
            } yield (ids(i), ids(j), src, true)
            val fan = for {
              i <- Iterator.range(0, n).filter(probe).take(cappedProbes)
              j <- Iterator.range(0, math.min(cap, n)) if j != i
            } yield cappedPair(ids(i), ids(j), src)
            chain ++ fan
          }
        val tail: Iterator[(String, String, Int, Boolean)] =
          if (!overflowing) Iterator.empty
          else {
            // streaming overflow (class doc). Pairs carry the FROZEN
            // buffered-prefix src, so a pair's `sources` cannot depend on
            // where in the arrival order it was emitted.
            var probesLeft = cappedProbes - math.min(cappedProbes, probe.count(identity))
            val targets = ids.take(cap)
            val window = new Array[String](width)
            var filled = 0
            var pos = 0
            def push(x: String): Unit = {
              window(pos) = x
              pos = (pos + 1) % width
              if (filled < width) filled += 1
            }
            ids.takeRight(width).foreach(push)
            rows.flatMap { r =>
              val x = r._2
              val out = new ArrayBuffer[(String, String, Int, Boolean)](filled)
              var k = 0
              while (k < filled) {
                if (window(k) != x) out += cappedPair(x, window(k), src)
                k += 1
              }
              if (r._4 && probesLeft > 0) {
                probesLeft -= 1
                targets.foreach(t => if (t != x) out += cappedPair(x, t, src))
              }
              push(x)
              out.iterator
            }
          }
        head ++ tail
      }
      .toDF("a", "b", "sources", "capped")
  }
}
