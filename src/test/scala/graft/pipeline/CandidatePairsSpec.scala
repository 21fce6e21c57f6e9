package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.Random

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import graft.tools.Scratch
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{arrays_zip, explode}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** `CandidatePairs.bucketPairs` against a plain-Scala reference of the
  * bucket rules (class doc), as sorted multisets of (a, b, sources, capped)
  * rows, over generated buckets; and the member schema its two callers
  * feed it. */
class CandidatePairsSpec extends AnyFunSuite {
  import CandidatePairsSpec._
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def generated(c: Case, partitions: Int): Seq[Pair] = {
    val rows = new Random(c.shuffleSeed).shuffle(c.members)
    CandidatePairs.bucketPairs(rows.toDS().repartition(partitions),
      GraftConf(bucketCap = c.cap, chainWidth = c.width), c.cappedProbes)
      .as[Pair].collect().toSeq.sorted
  }

  test("bucketPairs equals the reference rules on 1 and 7 input partitions") {
    val prop = Prop.forAll(cases) { c =>
      val want = reference(c.members, c.cap, c.width, c.cappedProbes).sorted
      val got1 = generated(c, 1)
      val got7 = generated(c, 7)
      Prop(got1 == want && got7 == want) :| s"$c\nwant=$want\ngot1=$got1\ngot7=$got7"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("band and substring members reach bucketPairs with one schema; band pairs are unchanged") {
    val conf = GraftConf()
    val sigs = Signatures.compute(spark, ClipTableGen.table(spark, 120, 42L).toDF(), conf).toDF()
    val bands = sigs.select($"clip_id", explode(arrays_zip($"band_keys", $"band_srcs")).as("z"))
      .select($"z.band_keys".as("band_key"), $"z.band_srcs".as("src"), $"clip_id")
    val dir = Files.createTempDirectory("graft-members").toFile
    try {
      bands.write.mode("overwrite").parquet(dir.getPath)
      val readBack = spark.read.parquet(dir.getPath) // every field nullable
      def fed(m: Dataset[Member]) = m.toDF("key", "id", "src", "probe").schema
      val substring = fed(SuffixDups.windowMembers(sigs.select($"clip_id", $"toks_h"), conf))
      for (b <- Seq(bands, readBack)) {
        assert(fed(CandidatePairs.bandMembers(b)) === substring, b.schema.treeString)
        val members = b.as[(Long, Int, String)].collect().toSeq.map { case (k, s, id) => (k, id, s, true) }
        assert(CandidatePairs.fromBands(spark, b, conf).as[Pair].collect().toSeq.sorted ===
          reference(members, conf.bucketCap, conf.chainWidth, 0).sorted)
      }
    } finally Scratch.deleteRec(dir)
  }
}

object CandidatePairsSpec {
  type Member = (Long, String, Int, Boolean)
  type Pair = (String, String, Int, Boolean)

  /** Spark's string order: unsigned lexicographic over the UTF-8 bytes. */
  val utf8Order: Ordering[String] =
    (x, y) => java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))

  /** The bucket rules of the `CandidatePairs` class doc, bucket by bucket. */
  def reference(members: Seq[Member], cap: Int, width: Int, cappedProbes: Int): Seq[Pair] =
    members.groupBy(_._1).values.toSeq.flatMap { rows =>
      val merged = rows.groupBy(_._2).toSeq
        .map { case (id, rs) => (id, rs.map(_._3).reduce(_ | _), rs.exists(_._4)) }
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

  final case class Case(cap: Int, width: Int, cappedProbes: Int, members: Seq[Member],
      shuffleSeed: Long)

  // ASCII plus code points whose UTF-8 order differs from their UTF-16
  // (`String`) order: U+E000 sorts after a surrogate pair in UTF-16,
  // before it in UTF-8
  private val glyphs = Seq("a", "b", "Z", "\u00e9", "\ue000", "\ud83d\ude00")
  private val idPool: IndexedSeq[String] =
    (for (x <- glyphs; y <- "" +: glyphs; z <- "" +: glyphs) yield x + y + z).distinct.toIndexedSeq

  /** One bucket: 0..4·cap distinct ids, each on 1–3 rows with their own
    * `src` bit and probe flag. */
  private def bucket(key: Long, cap: Int, probeRate: Double): Gen[Seq[Member]] = for {
    size <- Gen.choose(0, 4 * cap)
    ids <- Gen.pick(size, idPool)
    rows <- Gen.sequence[Seq[Seq[Member]], Seq[Member]](ids.map { id =>
      Gen.listOfN(3, Gen.zip(Gen.oneOf(1, 2, 4, 8), Gen.prob(probeRate)))
        .flatMap(rs => Gen.choose(1, 3).map(k => rs.take(k).map { case (s, p) => (key, id, s, p) }))
    })
  } yield rows.flatten

  val cases: Gen[Case] = for {
    cap <- Gen.choose(2, 8)
    width <- Gen.choose(1, 3)
    cappedProbes <- Gen.choose(0, 3)
    probeRate <- Gen.oneOf(0.0, 0.3, 1.0)
    keys <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.long)).map(_.distinct)
    buckets <- Gen.sequence[Seq[Seq[Member]], Seq[Member]](keys.map(bucket(_, cap, probeRate)))
    shuffleSeed <- Gen.long
  } yield Case(cap, width, cappedProbes, buckets.flatten, shuffleSeed)
}
