package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.Random

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import graft.tools.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{arrays_zip, explode}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** `CandidatePairs.bucketPairs` against a plain-Scala reference of the
  * bucket rules (class doc), as sorted multisets of (a, b, sources, capped)
  * rows, over generated buckets of both kinds; the pipeline's one pass
  * against its two one-kind calls; and the null check of the band input. */
class CandidatePairsSpec extends AnyFunSuite {
  import CandidatePairsSpec._
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def pairs(df: DataFrame): Seq[Pair] = df.as[Pair].collect().toSeq.sorted

  def generated(c: Case, partitions: Int): Seq[Pair] = {
    val rows = new Random(c.shuffleSeed).shuffle(c.members)
    pairs(CandidatePairs.bucketPairs(rows.toDS().repartition(partitions),
      GraftConf(bucketCap = c.cap, chainWidth = c.width)))
  }

  test("bucketPairs equals the reference rules on 1 and 7 input partitions") {
    val prop = Prop.forAll(cases) { c =>
      val want = reference(c.members, c.cap, c.width).sorted
      val got1 = generated(c, 1)
      val got7 = generated(c, 7)
      Prop(got1 == want && got7 == want) :| s"$c\nwant=$want\ngot1=$got1\ngot7=$got7"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("fromSignatures equals fromBands over the band explode plus candidatesFromTokenHashes") {
    val conf = GraftConf()
    val sigs = Signatures.compute(spark, ClipTableGen.table(spark, 120, 42L).toDF(), conf).toDF()
    val bands = sigs.select($"clip_id", explode(arrays_zip($"band_keys", $"band_srcs")).as("z"))
      .select($"z.band_keys".as("band_key"), $"z.band_srcs".as("src"), $"clip_id")
    val bandPairs = pairs(CandidatePairs.fromBands(spark, bands, conf))
    val members = bands.as[(Long, Int, String)].collect().toSeq
      .map { case (k, s, id) => CandidatePairs.Member(k, window = false, id, s, probe = true) }
    assert(bandPairs === reference(members, conf.bucketCap, conf.chainWidth).sorted)
    val substringPairs =
      pairs(SuffixDups.candidatesFromTokenHashes(spark, sigs.select($"clip_id", $"toks_h"), conf))
    assert(bandPairs.nonEmpty && substringPairs.nonEmpty)
    assert(pairs(CandidatePairs.fromSignatures(sigs, conf)) === (bandPairs ++ substringPairs).sorted)
  }

  test("a null band_key or src read back from parquet fails fromBands instead of reading as 0") {
    val dir = Files.createTempDirectory("graft-null-bands").toFile
    try {
      for ((col, row) <- Seq("band_key" -> (None, Some(1), "b"), "src" -> (Some(5L), None, "b"))) {
        val path = s"$dir/$col"
        Seq[(Option[Long], Option[Int], String)]((Some(5L), Some(1), "a"), row)
          .toDF("band_key", "src", "clip_id").write.parquet(path)
        val e = intercept[Exception](
          CandidatePairs.fromBands(spark, spark.read.parquet(path), GraftConf()).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("NULL value appeared")), e.toString)
      }
    } finally Scratch.deleteRec(dir)
  }
}

object CandidatePairsSpec {
  type Member = CandidatePairs.Member
  type Pair = (String, String, Int, Boolean)

  /** Spark's string order: unsigned lexicographic over the UTF-8 bytes. */
  val utf8Order: Ordering[String] =
    (x, y) => java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))

  /** The bucket rules of the `CandidatePairs` class doc, bucket by bucket;
    * a bucket is a (key, kind). */
  def reference(members: Seq[Member], cap: Int, width: Int): Seq[Pair] =
    members.groupBy(m => (m.key, m.window)).toSeq.flatMap { case ((_, window), rows) =>
      val cappedProbes = if (window) SuffixDups.SeedProbeLimit else 0
      val merged = rows.groupBy(_.id).toSeq
        .map { case (id, rs) => (id, rs.map(_.src).reduce(_ | _), rs.exists(_.probe)) }
        .sortBy(_._1)(utf8Order)
      val n = merged.size
      def id(i: Int) = merged(i)._1
      def probe(i: Int) = merged(i)._3
      def pair(x: String, y: String, src: Int, capped: Boolean) =
        if (x < y) (x, y, src, capped) else (y, x, src, capped)
      if (n <= cap) {
        val src = merged.map(_._2).fold(0)(_ | _)
        for (i <- 0 until n; j <- i + 1 until n if probe(i) || probe(j))
          yield pair(id(i), id(j), src, capped = false)
      } else {
        val src = merged.take(cap + 1).map(_._2).reduce(_ | _)
        val chain = for (i <- 0 until n; j <- i + 1 to math.min(i + width, n - 1))
          yield pair(id(i), id(j), src, capped = true)
        val fan = for (i <- (0 until n).filter(probe).take(cappedProbes); j <- 0 until cap if j != i)
          yield pair(id(i), id(j), src, capped = true)
        chain ++ fan
      }
    }

  final case class Case(cap: Int, width: Int, members: Seq[Member], shuffleSeed: Long)

  // ASCII plus code points whose UTF-8 order differs from their UTF-16
  // (`String`) order: U+E000 sorts after a surrogate pair in UTF-16,
  // before it in UTF-8
  private val glyphs = Seq("a", "b", "Z", "\u00e9", "\ue000", "\ud83d\ude00")
  private val idPool: IndexedSeq[String] =
    (for (x <- glyphs; y <- "" +: glyphs; z <- "" +: glyphs) yield x + y + z).distinct.toIndexedSeq

  /** One bucket (key, window): 0..4·cap distinct ids, each on 1–3 rows
    * with their own `src` bit and probe flag. A window bucket is sometimes
    * larger than its probe budget, so the budget runs out when all probe. */
  private def bucket(key: Long, window: Boolean, cap: Int, probeRate: Double): Gen[Seq[Member]] = for {
    size <- if (!window) Gen.choose(0, 4 * cap)
      else Gen.frequency(4 -> Gen.choose(0, 4 * cap),
        1 -> Gen.choose(SuffixDups.SeedProbeLimit + 1, SuffixDups.SeedProbeLimit + 24))
    ids <- Gen.pick(size, idPool)
    rows <- Gen.sequence[Seq[Seq[Member]], Seq[Member]](ids.map { id =>
      Gen.listOfN(3, Gen.zip(Gen.oneOf(1, 2, 4, 8), Gen.prob(probeRate)))
        .flatMap(rs => Gen.choose(1, 3).map(k => rs.take(k).map { case (s, p) =>
          CandidatePairs.Member(key, window, id, s, p) }))
    })
  } yield rows.flatten

  /** 1–4 keys; the first holds a band and a window bucket, each other one
    * a band bucket, a window bucket or both. */
  val cases: Gen[Case] = for {
    cap <- Gen.choose(2, 8)
    width <- Gen.choose(1, 3)
    probeRate <- Gen.oneOf(0.0, 0.3, 1.0)
    keys <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.long)).map(_.distinct)
    kinds <- Gen.listOfN(keys.size - 1, Gen.oneOf(Seq(false), Seq(true), Seq(false, true)))
    buckets <- Gen.sequence[Seq[Seq[Member]], Seq[Member]](
      for ((key, ks) <- keys.zip(Seq(false, true) +: kinds); window <- ks)
        yield bucket(key, window, cap, probeRate))
    shuffleSeed <- Gen.long
  } yield Case(cap, width, buckets.flatten, shuffleSeed)
}
