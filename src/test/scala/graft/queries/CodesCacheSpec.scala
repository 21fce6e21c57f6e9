package graft.queries

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** [[CodesCache]] — build-once materialization of derived index relations. */
class CodesCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("same (dir, name) returns the same view; different dirs get distinct views") {
    val v1 = CodesCache.materialize(spark, "/fake/dir-a", "cc_spec", "SELECT 1 AS v")
    val v1b = CodesCache.materialize(spark, "/fake/dir-a", "cc_spec", "SELECT 1 AS v")
    val v2 = CodesCache.materialize(spark, "/fake/dir-b", "cc_spec", "SELECT 2 AS v")
    assert(v1 === v1b)
    assert(v1 !== v2)
    assert(spark.sql(s"SELECT v FROM $v1").head().getInt(0) === 1)
    assert(spark.sql(s"SELECT v FROM $v2").head().getInt(0) === 2)
  }

  test("the view is a materialization: re-querying does not re-evaluate the defining SQL") {
    // rand() would give different values per evaluation; the checkpointed
    // view must pin ONE evaluation (build-once is the whole contract).
    val v = CodesCache.materialize(spark, "/fake/dir-c", "cc_rand",
      "SELECT rand() AS r FROM range(5)")
    val first = spark.sql(s"SELECT sum(r) FROM $v").head().getDouble(0)
    val second = spark.sql(s"SELECT sum(r) FROM $v").head().getDouble(0)
    assert(first === second)
  }

  test("GRAFT_INDEX_DIR spill path: index built once to parquet, views read the files") {
    // the production fault-model alternative to localCheckpoint blocks
    // (class doc): executor loss costs a file re-scan, never a dead view
    val root = java.nio.file.Files.createTempDirectory("graft-indexdir").toString
    System.setProperty("graft.index.dir", root)
    try {
      val v = CodesCache.materialize(spark, "/fake/dir-spill", "cc_spill",
        "SELECT rand() AS r FROM range(7)")
      val dir = new java.io.File(root, v)
      assert(dir.isDirectory && new java.io.File(dir, "_SUCCESS").isFile,
        "spilled index must be a completed parquet write under GRAFT_INDEX_DIR")
      // materialized once: rand() pinned by the files, identical re-reads
      val first = spark.sql(s"SELECT sum(r) FROM $v").head().getDouble(0)
      val second = spark.sql(s"SELECT sum(r) FROM $v").head().getDouble(0)
      assert(first === second)
      // the view is file-backed, not block-backed: its plan scans the spill
      val plan = spark.sql(s"SELECT * FROM $v").queryExecution.executedPlan.toString
      assert(plan.contains(v) || plan.toLowerCase.contains("parquet"),
        s"spill view must read parquet, plan was:\n$plan")
    } finally {
      System.clearProperty("graft.index.dir")
      graft.tools.Scratch.deleteRec(new java.io.File(root))
    }
  }

  test("forest knn and recall share one materialized code table per dir") {
    val dir = "/root/testdata/sf0.001"
    ForestQueries.queries("q_ann_forest_knn")(spark, dir).count()
    val before = spark.catalog.listTables().collect()
      .count(t => t.name.startsWith("forest_tc_") || t.name.startsWith("codes_rp_"))
    ForestQueries.queries("q_ann_forest_recall")(spark, dir).count()
    val after = spark.catalog.listTables().collect()
      .count(t => t.name.startsWith("forest_tc_") || t.name.startsWith("codes_rp_"))
    assert(before === after, "second forest query must reuse the views, not register new ones")
  }
}
