package graft.pipeline

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.kernel.Shingles
import graft.synth.ClipTableGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `VerifyPairs.verify` against a driver-side reference over the collected
  * signature rows, scored with the Scala kernels the native expressions
  * mirror (`Shingles.jaccardSorted`, `VerifyPairs.isSubSequence`). */
class VerifyPairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Generator rows plus hostile ones: undecodable and empty audio (empty
    * audio shingle sets), an empty transcript. */
  lazy val signatures: DataFrame = {
    val hostile = Seq(
      ("bad-wav-1", Array[Byte](1, 2, 3), 8000, 10, "pcm_s16le", "some ordinary transcript text here"),
      ("bad-wav-2", Array.empty[Byte], 8000, 0, "pcm_s16le", "some ordinary transcript text here too"),
      ("empty-text", graft.audio.WavCodec.encode(Array.fill[Short](2048)(100), 8000), 8000, 256, "pcm_s16le", "")
    ).toDF("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    val clips = ClipTableGen.table(spark, 120, 11L).unionByName(hostile)
    Signatures.compute(spark, clips, GraftConf()).toDF().cache()
  }

  /** Every unordered pair of signature ids, plus one pair with an id that
    * has no signature (dropped). */
  lazy val pairs: DataFrame = {
    val ids = signatures.select($"clip_id")
    ids.as("l").crossJoin(ids.as("r")).filter($"l.clip_id" < $"r.clip_id")
      .select($"l.clip_id".as("a"), $"r.clip_id".as("b"), lit(1).as("sources"), lit(false).as("capped"))
      .union(Seq(("bad-wav-1", "zz-missing", 1, false)).toDF("a", "b", "sources", "capped"))
  }

  type Edge = (String, String, Double, Double, Boolean, Boolean, Seq[String])

  val schema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType),
    StructField("text_jaccard", DoubleType), StructField("audio_jaccard", DoubleType),
    StructField("substring", BooleanType), StructField("accepted", BooleanType),
    StructField("reasons", ArrayType(StringType, containsNull = false))))

  /** The verified edge of each pair whose ids both have a signature. */
  def reference(pairs: DataFrame, c: GraftConf): Seq[Edge] = {
    val sig = signatures.select($"clip_id", $"text_sh", $"toks_h", $"audio_sh")
      .as[(String, Array[Long], Array[Long], Array[Long])].collect().map(r => r._1 -> r).toMap
    pairs.select($"a", $"b").as[(String, String)].collect().toSeq.flatMap { case (a, b) =>
      for ((_, tA, kA, aA) <- sig.get(a); (_, tB, kB, aB) <- sig.get(b)) yield {
        val text = Shingles.jaccardSorted(tA, tB)
        val audio = Shingles.jaccardSorted(aA, aB)
        val sub = VerifyPairs.isSubSequence(kA, kB) || VerifyPairs.isSubSequence(kB, kA)
        val reasons = Seq("text" -> (text >= c.textJaccardThreshold),
          "audio" -> (audio >= c.audioJaccardThreshold), "substring" -> sub).collect { case (r, true) => r }
        (a, b, text, audio, sub, reasons.nonEmpty, reasons)
      }
    }.sortBy(e => (e._1, e._2))
  }

  def edges(df: DataFrame): Seq[Edge] =
    df.as[Edge].collect().toSeq.sortBy(e => (e._1, e._2))

  for ((label, c) <- Seq("default thresholds" -> GraftConf(),
      "audioJaccardThreshold = 0.0" -> GraftConf(audioJaccardThreshold = 0.0))) {
    test(s"verify equals the one-phase reference row for row and schema for schema ($label)") {
      val v = VerifyPairs.verify(spark, pairs, signatures, c)
      assert(v.edges.schema.map(f => (f.name, f.dataType)) === schema.map(f => (f.name, f.dataType)))
      assert(!v.edges.schema("audio_jaccard").nullable)
      val got = edges(v.edges)
      assert(got === reference(pairs, c))
      assert(!got.exists(_._2 == "zz-missing"))
      // every test is exercised: text accepts, audio scores of text-rejected
      // pairs, pairs with an empty audio set, and both text and audio passing
      val emptyAudio = signatures.filter(size($"audio_sh") === 0).select($"clip_id").as[String].collect().toSet
      assert(emptyAudio.size >= 2)
      assert(got.exists(e => e._6 && e._7.contains("text")))
      assert(got.exists(e => !e._7.contains("text") && !e._5 && e._4 > 0.0))
      assert(got.exists(e => emptyAudio(e._1) || emptyAudio(e._2)))
      assert(got.exists(e => e._7.contains("text") && e._7.contains("audio")),
        "a pair that passes both the text and the audio test lists both reasons")
      if (c.audioJaccardThreshold == 0.0) assert(got.forall(_._6))
      else assert(got.exists(!_._6))
    }
  }

  test("verify with no pairs gives no edges") {
    val v = VerifyPairs.verify(spark, pairs.limit(0), signatures, GraftConf())
    assert(v.edges.schema.map(f => (f.name, f.dataType)) === schema.map(f => (f.name, f.dataType)))
    assert(edges(v.edges).isEmpty)
  }
}
