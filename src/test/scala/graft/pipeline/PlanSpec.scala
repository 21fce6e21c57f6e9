package graft.pipeline

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.rdd.{CoGroupedRDD, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Physical-plan audits: the properties `.explain` should show at scale.
  * These pin the plan shape so a regression (e.g. a select that defeats
  * column pruning, or a lost broadcast) fails loudly. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
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

  /** Every RDD under a query's result: the kNN queries end in a scan of a
    * pair-RDD result ([[graft.queries.Knn]]), so their joins and scans are
    * RDDs, not plan nodes. */
  private def lineage(df: DataFrame): Seq[RDD[_]] = {
    val root = collectFirst(df.queryExecution.executedPlan) { case r: RDDScanExec => r.inputRDDs().head }
      .getOrElse(fail(s"not a scan of an RDD:\n${df.queryExecution.executedPlan}"))
    def walk(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => walk(d.rdd))
    walk(root).distinctBy(_.id)
  }

  /** The hash equi-joins of a lineage (`join` and `cogroup` both cogroup)
    * and whether any RDD pairs every row with every row. */
  private def joins(rdds: Seq[RDD[_]]): (Int, Boolean) =
    (rdds.count(_.isInstanceOf[CoGroupedRDD[_]]), rdds.exists(_.getClass.getSimpleName == "CartesianRDD"))

  test("q_ann_hamming_knn executes banded multiprobe as equi-joins (no theta-join candidate gather)") {
    val df = graft.queries.AnnQueries.queries("q_ann_hamming_knn")(spark, "/root/testdata/sf0.001")
    // the probe join on (band_idx, probed band_key) and the vector lookup:
    // hash equi-joins, and no pairing of every query with every vector
    val (equi, cartesian) = joins(lineage(df))
    assert(equi === 2 && !cartesian, lineage(df).mkString("\n"))
  }

  test("q_ann_forest_knn executes the prefix schedule as equi-joins only") {
    val df = graft.queries.ForestQueries.queries("q_ann_forest_knn")(spark, "/root/testdata/sf0.001")
    // the (t, s, pre) level join and the vector lookup
    val (equi, cartesian) = joins(lineage(df))
    assert(equi === 2 && !cartesian, lineage(df).mkString("\n"))
  }

  test("forest query scans the materialized code views, never rebuilds codes from parquet") {
    // CTE inlining used to re-instantiate the md5 sign matrices + code dot
    // products under EVERY reference (40 FileScans of the same parquet in
    // one forest plan); CodesCache materializes the index once and the
    // query must read only the checkpointed views.
    val df = graft.queries.ForestQueries.queries("q_ann_forest_knn")(spark, "/root/testdata/sf0.001")
    val rdds = lineage(df)
    assert(!rdds.exists(_.isInstanceOf[FileScanRDD]), rdds.mkString("\n"))
    assert(rdds.count(_.isCheckpointed) === 2, s"expected the level and code views' blocks:\n${rdds.mkString("\n")}")
  }

  /** The executed plan of a query's second execution in the session:
    * the first built its index views. */
  private def warmPlan(q: String): SparkPlan = {
    val dir = "/root/testdata/sf0.001"
    graft.SparkEntry.queries(q)(spark, dir).collect()
    val df = graft.SparkEntry.queries(q)(spark, dir)
    df.collect() // AQE finalizes the physical plan only on execution
    df.queryExecution.executedPlan
  }

  test("a warm q_substring_pairs plan scans the window table, it explodes no windows") {
    val plan = warmPlan("q_substring_pairs")
    assert(collect(plan) { case g: GenerateExec => g }.isEmpty, plan.toString)
  }

  test("a warm q_ann_forest_knn plan explodes no levels and scans no parquet") {
    val plan = warmPlan("q_ann_forest_knn")
    assert(collect(plan) { case g: GenerateExec => g }.isEmpty, plan.toString)
    assert(collect(plan) { case f: FileSourceScanExec => f }.isEmpty, plan.toString)
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
    assert(rows(0) == ("c1", "c2", 0.5, true))
    assert(rows(1)._3 == 1.0) // c3/c4: identical single-shingle text
    // one join chain, pairs ⋈ sig(a) ⋈ sig(b): a split into phases shows up
    // as more joins, a Union of the halves or an InMemoryTableScan of a
    // persisted phase (AQE finalizes the plan only on execution)
    val executed = v.edges.queryExecution.executedPlan
    assert(collect(executed) { case j: BaseJoinExec => j }.size === 2, executed.toString)
    assert(collect(executed) { case u: UnionExec => u }.isEmpty, executed.toString)
    assert(collect(executed) { case m: InMemoryTableScanExec => m }.isEmpty, executed.toString)
  }

  test("whole-stage codegen + partial aggregation cover the relational aggregate") {
    val df = graft.queries.RelQueries.queries("q1_agg")(spark, "/root/testdata/sf0.001")
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in simpleString
    assert(plan.contains("*(1)"), s"expected codegen spans:\n${plan.take(2000)}")
    assert(plan.contains("partial_sum"), s"expected map-side partial aggregation:\n${plan.take(2000)}")
  }

  test("a pipeline run shuffles its candidate members once, on their key") {
    // the band keys and the substring windows share one exchange and sort
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-run").toFile
    spark.listenerManager.register(listener)
    try JobCounter.count(spark.sparkContext)( // drains the listener bus
      DedupPipeline.run(spark, spark.read.parquet(clipsDir), GraftConf(checkpointDir = Some(dir.getPath))))
    finally {
      spark.listenerManager.unregister(listener)
      graft.tools.Scratch.deleteRec(dir)
    }
    val onKey = plans.asScala.toSeq.flatMap(p => collect(p) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "key"
        case _ => false
      }) => e
    })
    assert(onKey.size === 1, onKey.mkString("\n"))
  }
}
