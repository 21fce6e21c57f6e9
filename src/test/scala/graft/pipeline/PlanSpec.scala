package graft.pipeline

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties `.explain` should show at scale.
  * These pin the plan shape so a regression (e.g. a select that defeats
  * column pruning, or a lost broadcast) fails loudly. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  lazy val clipsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString + "/clips"
    ClipTableGen.table(spark, 200).write.mode("overwrite").parquet(dir)
    dir
  }

  test("signature stage scan prunes to clip_id/bytes/transcript (sr_hz/dur_ms/codec never read)") {
    val clips = spark.read.parquet(clipsDir)
    val sig = Signatures.compute(spark, clips, GraftConf())
    val scan = sig.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("ReadSchema"))
    assert(scan.contains("clip_id") && scan.contains("bytes") && scan.contains("transcript"))
    for (col <- Seq("sr_hz", "dur_ms", "codec"))
      assert(!scan.contains(col), s"column $col should be pruned from the scan:\n$scan")
  }

  test("relational join query uses a broadcast join for the small dimension side") {
    val plan = graft.queries.RelQueries.queries("q_join_agg")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in plan:\n${plan.take(2000)}")
  }

  test("q_ann_hamming_knn executes banded multiprobe as equi-joins (no theta-join candidate gather)") {
    val df = graft.queries.AnnQueries.queries("q_ann_hamming_knn")(spark, "/root/testdata/sf0.001")
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian product in ANN plan:\n${plan.take(3000)}")
    // The only nested-loop joins allowed are the conditionless 1-row
    // sign-matrix cross joins; a conditioned BNLJ is the round-1
    // bit_count theta-join scale-killer coming back.
    val badBnlj = plan.split("\n").filter(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.trim.endsWith("Cross"))
    assert(badBnlj.isEmpty,
      s"ANN candidate gather fell back to a conditioned nested-loop join:\n${badBnlj.mkString("\n")}")
    // candidate gather must be a hash/merge equi-join on the probed band key
    val probeJoin = plan.split("\n").filter(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin"))
        && l.contains("band_key"))
    assert(probeJoin.nonEmpty, s"expected (band_idx, band_key) equi-join in ANN plan:\n${plan.take(3000)}")
  }

  test("q_ann_forest_knn executes the prefix schedule as equi-joins only") {
    val df = graft.queries.ForestQueries.queries("q_ann_forest_knn")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian product in forest plan:\n${plan.take(3000)}")
    val badBnlj = plan.split("\n").filter(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.trim.endsWith("Cross"))
    assert(badBnlj.isEmpty,
      s"forest candidate gather fell back to a conditioned nested-loop join:\n${badBnlj.mkString("\n")}")
    val prefixJoin = plan.split("\n").filter(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin"))
        && l.contains("pre"))
    assert(prefixJoin.nonEmpty, s"expected (t, s, pre) equi-join in forest plan:\n${plan.take(3000)}")
  }

  test("forest query scans the materialized code views, never rebuilds codes from parquet") {
    // CTE inlining used to re-instantiate the md5 sign matrices + code dot
    // products under EVERY reference (40 FileScans of the same parquet in
    // one forest plan); CodesCache materializes the index once and the
    // query must read only the checkpointed views.
    val df = graft.queries.ForestQueries.queries("q_ann_forest_knn")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val fileScans = plan.split("\n").count(_.contains("FileScan parquet"))
    assert(fileScans == 0,
      s"forest read path should not rescan parquet ($fileScans FileScans — codes rebuilt per reference?):\n${plan.take(3000)}")
    assert(plan.contains("ExistingRDD"),
      s"expected scans of the materialized (checkpointed) code views:\n${plan.take(3000)}")
  }

  test("verify phase is object-serde free (native expressions, no Dataset.map round-trip)") {
    // The verify stage runs once per CANDIDATE PAIR — the highest-volume
    // row stream in the pipeline. It used to be a Dataset.map that decoded
    // four Array[Long] columns per pair to JVM arrays; the native codegen
    // expressions (ArraySetExprs) must keep the whole phase inside
    // Tungsten. Signatures are fed as a plain DataFrame so any serde node
    // in the plan can only come from the verify phase itself.
    import spark.implicits._
    val sig = Seq(
      ("c1", Array(1L, 2L, 3L), Array(5L, 6L), Array(10L, 11L, 12L)),
      ("c2", Array(2L, 3L, 4L), Array(5L, 7L), Array(11L, 12L)),
      ("c3", Array(9L), Array.empty[Long], Array(99L)),
      ("c4", Array(9L), Array.empty[Long], Array(98L))
    ).toDF("clip_id", "text_sh", "audio_sh", "toks_h")
    val pairs = Seq(("c1", "c2"), ("c3", "c4")).toDF("a", "b")
    val v = VerifyPairs.verify(spark, pairs, sig, GraftConf())
    val plan = v.edges.queryExecution.executedPlan.toString
    for (bad <- Seq("DeserializeToObject", "SerializeFromObject", "MapElements", "mapPartitions"))
      assert(!plan.contains(bad),
        s"verify plan re-entered object land ($bad):\n${plan.take(3000)}")
    assert(plan.contains("jaccard_sorted") && plan.contains("contains_subseq"),
      s"expected the native expressions in the plan:\n${plan.take(3000)}")
    // and the codegen'd run computes the right metrics: c1/c2 share 2 of 4
    // distinct shingles, c2's tokens are a contiguous suffix of c1's
    val rows = v.edges.collect().map(r => (r.getString(0), r.getString(1),
      r.getDouble(2), r.getBoolean(4))).sortBy(_._1)
    v.release()
    assert(rows(0) == ("c1", "c2", 0.5, true))
    assert(rows(1)._3 == 1.0) // c3/c4: identical single-shingle text
  }

  test("whole-stage codegen + partial aggregation cover the relational aggregate") {
    val df = graft.queries.RelQueries.queries("q1_agg")(spark, "/root/testdata/sf0.001")
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in simpleString
    assert(plan.contains("*(1)"), s"expected codegen spans:\n${plan.take(2000)}")
    assert(plan.contains("partial_sum"), s"expected map-side partial aggregation:\n${plan.take(2000)}")
  }
}
