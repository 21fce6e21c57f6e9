package graft.queries

import java.io.File

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.graft.{CodegenKeys, JobCounter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** [[CodesCache]] — the query surface's build side: the inputs and every
  * input-only relation, built once per (session, dir). */
class CodesCacheSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestBase.spark

  /** The LSH/ANN headline queries (the `ann_queries` benchmark mix). */
  private val Headline = Seq("q_exact_dedup", "q_minhash_bands", "q_lsh_pairs", "q_near_dup_pairs",
    "q_simhash_pairs", "q_substring_pairs", "q_knn_cosine", "q_ann_buckets",
    "q_ann_hamming_knn", "q_ann_forest_knn")
  private val Sf0001 = "/root/testdata/sf0.001"
  private val Sf001 = "/root/testdata/sf0.01"

  /** A query's rows, order-free. */
  private def rows(s: SparkSession, q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(s, dir).collect().map(_.mkString("|")).sorted.toSeq

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

  /** Broadcast exchanges an executed query ran (a reused one runs none). */
  private def broadcasts(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case b: BroadcastExchangeLike => b }.size

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

  test("GRAFT_INDEX_DIR: a spill written under another definition is rebuilt, not read") {
    // the spill is named like the view, and the name carries a digest of
    // the defining SQL: a view whose definition changed must not re-read
    // the files an earlier definition left under the same name
    val root = java.nio.file.Files.createTempDirectory("graft-indexdir-def").toFile
    System.setProperty("graft.index.dir", root.getPath)
    try {
      val v1 = CodesCache.materialize(spark.newSession(), "/fake/dir-def", "cc_def", "SELECT 1 AS v")
      val s2 = spark.newSession()
      val v2 = CodesCache.materialize(s2, "/fake/dir-def", "cc_def", "SELECT 2 AS v")
      assert(v1 !== v2)
      assert(s2.sql(s"SELECT v FROM $v2").head().getInt(0) === 2)
      assert(root.listFiles().count(_.getName.startsWith("cc_def_")) === 2,
        "each definition has its own completed spill")
    } finally {
      System.clearProperty("graft.index.dir")
      graft.tools.Scratch.deleteRec(root)
    }
  }

  test("GRAFT_INDEX_DIR: a spill that lost a part file is rebuilt, not served partially") {
    val root = java.nio.file.Files.createTempDirectory("graft-indexdir-lost").toFile
    val sql = "SELECT id FROM range(0, 100, 1, 4)"
    System.setProperty("graft.index.dir", root.getPath)
    try {
      val v = CodesCache.materialize(spark.newSession(), "/fake/dir-lost", "cc_lost", sql)
      val parts = new File(root, v).listFiles().filter(f => f.getName.startsWith("part-") && f.length > 0)
      assert(parts.length > 1, "the spill must span several part files")
      assert(parts.head.delete())
      val s2 = spark.newSession()
      val again = CodesCache.materialize(s2, "/fake/dir-lost", "cc_lost", sql)
      assert(again === v)
      val fresh = spark.sql(sql).collect().map(_.getLong(0)).sorted.toSeq
      assert(s2.sql(s"SELECT id FROM $again").collect().map(_.getLong(0)).sorted.toSeq === fresh)
    } finally {
      System.clearProperty("graft.index.dir")
      graft.tools.Scratch.deleteRec(root)
    }
  }

  test("forest knn and recall share one materialized code table per dir") {
    val dir = Sf0001
    def forestViews = spark.catalog.listTables().collect().count(t =>
      Seq("forest_lv_", "codes_rp_", "embed_nrm_").exists(t.name.startsWith))
    ForestQueries.queries("q_ann_forest_knn")(spark, dir).count()
    val before = forestViews
    ForestQueries.queries("q_ann_forest_recall")(spark, dir).count()
    assert(before === forestViews, "second forest query must reuse the views, not register new ones")
  }

  test("one session alternating two dirs answers each query from that dir's inputs and index") {
    // `documents` and `embeddings` are view names every dir shares: a cached
    // input or index that served the other dir would change the rows
    val dirs = Seq(Sf0001, Sf001)
    val fresh = dirs.map { d =>
      val s = spark.newSession()
      d -> Headline.map(q => q -> rows(s, q, d)).toMap
    }.toMap
    assert(Headline.forall(q => fresh(Sf0001)(q) != fresh(Sf001)(q)),
      "the two dirs must disagree, or a crossed cache could not show")
    val mixed = spark.newSession()
    for (round <- 1 to 2; q <- Headline; d <- dirs)
      assert(rows(mixed, q, d) === fresh(d)(q), s"round $round, $q over $d")
  }

  test("a warm headline pass infers no schema and runs only its probe jobs") {
    val s = spark.newSession()
    Headline.foreach(q => SparkEntry.queries(q)(s, Sf0001).collect())
    // per query: its jobs' call sites, the classes it compiles from an
    // empty codegen cache, and the broadcast exchanges it ran
    val warm = Headline.map { q =>
      val ((df, compiled), sites) = JobCounter.callSites(s.sparkContext)(CodegenKeys.count {
        val df = SparkEntry.queries(q)(s, Sf0001)
        df.collect()
        df
      })
      (q, sites, compiled, broadcasts(df))
    }
    for ((q, sites, _, _) <- warm)
      assert(!sites.exists(_.startsWith("parquet at")), s"$q re-read an input: $sites")
    val seen = warm.map { case (q, sites, c, b) => s"$q: jobs=${sites.size} classes=$c broadcasts=$b" }
      .mkString("\n")
    // Per query, so a new job in one query cannot hide behind a saving in
    // another. 78 in all when every execution re-read its inputs and
    // re-derived the windows, seeds, forest levels and sizes, bucket codes
    // and norms; 65 while candidate rows were joined back to per-id
    // tables for their codes, shingles and levels (lsh 5, near-dup 9,
    // simhash 6, hamming 10, forest 13).
    val jobs = Map("q_exact_dedup" -> 4, "q_minhash_bands" -> 3, "q_lsh_pairs" -> 4,
      "q_near_dup_pairs" -> 5, "q_simhash_pairs" -> 4, "q_substring_pairs" -> 6, "q_knn_cosine" -> 5,
      "q_ann_buckets" -> 4, "q_ann_hamming_knn" -> 7, "q_ann_forest_knn" -> 7)
    assert(warm.map { case (q, sites, _, _) => q -> sites.size }.toMap === jobs, seen)
    assert(warm.map(_._2.size).sum === 49, seen)
    // 22 broadcast exchanges before, 25 broadcast joins counting the
    // reused ones: every candidate lookup of a code, a shingle set, a
    // query level or a bucket size was a broadcast
    assert(warm.map(_._4).sum === 13, seen)
    // Classes compiled per query from an empty cache; one query's classes
    // fit the 100-entry cache, so this is its key count. 248 in all while
    // candidates were joined back for their attributes (hamming 45,
    // forest 56, near-dup 30, simhash 19).
    assert(warm.map(_._3).sum === 196, seen)
  }

  test("GRAFT_INDEX_DIR: the query surface's views spill once and are re-read by a new session") {
    val root = java.nio.file.Files.createTempDirectory("graft-indexdir-views").toFile
    val queries = Seq("q_near_dup_pairs", "q_simhash_pairs", "q_substring_pairs", "q_knn_cosine",
      "q_ann_buckets", "q_ann_hamming_knn", "q_ann_forest_knn")
    def all(s: SparkSession) = queries.map(q => rows(s, q, Sf0001))
    val inMemory = all(spark.newSession())
    System.setProperty("graft.index.dir", root.getPath)
    try {
      val first = all(spark.newSession())
      val spills = Seq("doc_bands_", "doc_shsets_", "doc_sim_bands_", "doc_wins_", "doc_seeds_",
        "embed_nrm_", "codes_rp_", "ann_bb_", "forest_lv_").map(p => p -> root.listFiles().filter(_.getName.startsWith(p)))
      for ((p, dirs) <- spills)
        assert(dirs.length == 1 && new File(dirs.head, "_SUCCESS").isFile, s"$p: one completed spill")
      // the spill dirs' files and the manifests beside them
      def stamps = root.listFiles().flatMap(f => if (f.isDirectory) f.listFiles() else Array(f))
        .map(f => f.getPath -> f.lastModified).toMap
      val written = stamps
      assert(all(spark.newSession()) === first)
      assert(stamps === written, "a new session must read the spilled views, not rewrite them")
      assert(first === inMemory, "spilled and checkpointed views must answer alike")
    } finally {
      System.clearProperty("graft.index.dir")
      graft.tools.Scratch.deleteRec(root)
    }
  }
}
