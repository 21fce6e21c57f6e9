package graft.pipeline

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.functions.ArraySetExprs.{containsSubseq, jaccardSorted}
import graft.synth.ClipTableGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `VerifyPairs.verify` (two phases, disjoint halves unioned) against a
  * one-phase reference that joins every pair to all three signature sets. */
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
    * has no signature (dropped by both). */
  lazy val pairs: DataFrame = {
    val ids = signatures.select($"clip_id")
    ids.as("l").crossJoin(ids.as("r")).filter($"l.clip_id" < $"r.clip_id")
      .select($"l.clip_id".as("a"), $"r.clip_id".as("b"), lit(1).as("sources"), lit(false).as("capped"))
      .union(Seq(("bad-wav-1", "zz-missing", 1, false)).toDF("a", "b", "sources", "capped"))
  }

  def reference(pairs: DataFrame, c: GraftConf): DataFrame = {
    val side = signatures.select($"clip_id", $"text_sh", $"toks_h", $"audio_sh")
    def named(s: String) = side.select($"clip_id".as(s), $"text_sh".as(s"tsh_$s"),
      $"toks_h".as(s"th_$s"), $"audio_sh".as(s"ash_$s"))
    pairs.join(named("a"), Seq("a")).join(named("b"), Seq("b"))
      .select($"a", $"b",
        jaccardSorted($"tsh_a", $"tsh_b").as("text_jaccard"),
        (containsSubseq($"th_a", $"th_b") || containsSubseq($"th_b", $"th_a")).as("substring"),
        when(size($"ash_a") === 0 || size($"ash_b") === 0, lit(0.0))
          .otherwise(jaccardSorted($"ash_a", $"ash_b")).as("audio_full"))
      .withColumn("text_accepted", $"text_jaccard" >= c.textJaccardThreshold || $"substring")
      // the reported audio metric is 0.0 where the text phase accepted
      .withColumn("audio_jaccard", coalesce(when($"text_accepted", lit(0.0)).otherwise($"audio_full"), lit(0.0)))
      .select($"a", $"b", $"text_jaccard", $"audio_jaccard", $"substring",
        ($"text_accepted" || $"audio_jaccard" >= c.audioJaccardThreshold).as("accepted"),
        array_compact(array(
          when($"text_jaccard" >= c.textJaccardThreshold, "text"),
          when($"audio_jaccard" >= c.audioJaccardThreshold, "audio"),
          when($"substring", "substring"))).as("reasons"))
  }

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  for ((label, c) <- Seq("default thresholds" -> GraftConf(),
      "audioJaccardThreshold = 0.0" -> GraftConf(audioJaccardThreshold = 0.0))) {
    test(s"verify equals the one-phase reference row for row and schema for schema ($label)") {
      val v = VerifyPairs.verify(spark, pairs, signatures, c)
      try {
        val ref = reference(pairs, c)
        assert(v.edges.schema === ref.schema)
        val got = rows(v.edges)
        assert(got === rows(ref))
        // every path is exercised: text-accepted, audio residue, empty audio sets
        val e = v.edges
        val residue = e.filter(!($"text_jaccard" >= c.textJaccardThreshold) && !$"substring")
        val emptyAudio = signatures.filter(size($"audio_sh") === 0).select($"clip_id").as[String].collect()
        assert(e.filter($"accepted" && array_contains($"reasons", "text")).count() > 0)
        assert(residue.filter($"audio_jaccard" > 0.0).count() > 0)
        assert(emptyAudio.length >= 2)
        assert(residue.filter($"a".isin(emptyAudio: _*) || $"b".isin(emptyAudio: _*)).count() > 0)
        if (c.audioJaccardThreshold == 0.0) assert(e.filter(!$"accepted").count() === 0)
        else assert(e.filter(!$"accepted").count() > 0)
      } finally v.release()
    }
  }

  test("verify with no audio residue, and with no pairs") {
    val c = GraftConf()
    val textAccepted = pairs.join(reference(pairs, c)
      .filter($"text_jaccard" >= c.textJaccardThreshold || $"substring").select($"a", $"b"), Seq("a", "b"))
    for (p <- Seq(textAccepted, pairs.limit(0))) {
      val v = VerifyPairs.verify(spark, p, signatures, c)
      try {
        assert(v.edges.schema === reference(p, c).schema)
        assert(rows(v.edges) === rows(reference(p, c)))
      } finally v.release()
    }
    assert(textAccepted.count() > 0)
  }
}
