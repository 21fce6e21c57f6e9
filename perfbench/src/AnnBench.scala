package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The LSH read path: the ten non-TPC-H headline queries over seeded
  * `documents`/`embeddings` parquet, a closed loop with one caller. Each
  * pass runs the mix in a seed-shuffled order. A fresh session builds the
  * `CodesCache` index views on its first pass (the cold pass); later passes
  * query the built views (warm). */
final class AnnBench(spark: SparkSession, a: Args, sessionS: Double, setupBaseS: Double,
    dataDir: String) {

  private val rng = new scala.util.Random(a.seed)
  private val checks = new Checks

  private def order(): Seq[String] = rng.shuffle(AnnBench.Queries)

  /** Temp views other than the input tables: the index views built so far. */
  private def indexViews(s: SparkSession): Int =
    s.catalog.listTables().collect()
      .count(t => t.isTemporary && !Seq("documents", "embeddings").contains(t.name))

  /** One query execution: the result is written as parquet, as the
    * program's query surface delivers it; returns wall seconds. The last
    * execution of each query is what the DuckDB oracle check reads. */
  private def execute(s: SparkSession, q: String): Double = {
    val t0 = System.nanoTime()
    val problem =
      try {
        SparkEntry.queries(q)(s, dataDir).write.mode("overwrite").parquet(s"${a.work}/out/$q")
        Nil
      } catch { case e: Exception => Seq(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    checks.op(problem)
    wall
  }

  /** An index-building pass in the fresh session `s`, then, with
    * `warmS`, warm passes in the same session until that many seconds of
    * them have passed and at least `minPasses` have run.
    * With a tracer, every execution is a span: `index_build` when it
    * registered index views, `query` otherwise. */
  private def passes(s: SparkSession, trace: Option[Tracer], warmS: Option[Double],
      minPasses: Int = 1): AnnBench.Passes = {
    def run(q: String): Double = trace.fold(execute(s, q))(_.span("query")(execute(s, q)))
    val build = order().map { q =>
      val before = indexViews(s)
      val w = run(q)
      if (indexViews(s) > before) trace.foreach(t => t.rename(t.all.length - 1, "index_build"))
      q -> w
    }
    Util.settleJit()
    val cpu0 = Util.processCpuS()
    val warm = mutable.ArrayBuffer.empty[(String, Double)]
    warmS.foreach { limit =>
      while (warm.length < minPasses * AnnBench.Queries.length || warm.map(_._2).sum < limit)
        warm ++= order().map(q => q -> run(q))
    }
    AnnBench.Passes(build, warm.toSeq, Util.processCpuS() - cpu0)
  }

  def run(): Result = {
    Json.writeFile(s"${a.work}/out/oracle_sql.json",
      Json.obj(AnnBench.Queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, ""))))
    // The first pass in the fresh JVM pays JIT and code generation and
    // builds its session's index views; a traced run needs only that pass.
    // The first warm pass still pays some compilation (~10 % slower, more
    // CPU), so every timed run makes at least two: a pass count that
    // depended on how fast the host ran the first one would make runs
    // average different mixes of warmer and colder passes.
    val timed = passes(spark.newSession(), None, if (a.trace) None else Some(a.seconds), minPasses = 2)
    val (firstS, warm) = (timed.build.map(_._2).sum, timed.warm)
    val report = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS, "first_pass_s" -> firstS)

    val metrics: Map[String, Double] =
      if (!a.trace) {
        val lat = warm.map(_._2 * 1000)
        report ++= Seq("warm_samples" -> lat.length,
          "warm_pass_s" -> warm.grouped(AnnBench.Queries.length).map(_.map(_._2).sum).toSeq,
          "query_p50_ms" -> Util.median(lat),
          "query_p90_ms" -> Util.quantile(lat, 0.9))
        report ++= AnnBench.Queries.map(q =>
          s"query.$q.p50_ms" -> Util.median(warm.filter(_._1 == q).map(_._2 * 1000)))
        Map(
          "items_per_s" -> warm.length / warm.map(_._2).sum,
          "cpu_ms_per_item" -> timed.warmCpuS * 1000 / warm.length,
          "first_pass_s" -> firstS,
          "setup_s" -> (setupBaseS + sessionS))
      } else {
        // with the JIT warm, the same passes untraced and then traced, each
        // in a session of its own, with one warm pass each
        val untraced = passes(spark.newSession(), None, Some(0.0))
        val tr = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}-traced")
        val tWarm = passes(spark.newSession(), Some(tr), Some(0.0)).warm
        tr.write(s"${a.traceDir}/${a.workload}-${a.seed}.spans.json")
        val layers = (DedupBench.Layers ++ Seq("checkpoint") ++ AnnBench.Layers)
          .flatMap(l => tr.layerMetrics(l, Set(l), Util.Cores)).toMap
        Util.domainZero ++ layers ++
          AnnBench.Queries.map(q => s"query.$q.p50_ms" -> Util.median(tWarm.filter(_._1 == q).map(_._2 * 1000))) +
          ("trace_overhead" -> tr.all.map(_.wallS).sum / (untraced.build ++ untraced.warm).map(_._2).sum)
      }
    Result(metrics, report.toMap, checks)
  }
}

object AnnBench {
  final case class Passes(build: Seq[(String, Double)], warm: Seq[(String, Double)], warmCpuS: Double)
  val Queries = Seq("q_exact_dedup", "q_minhash_bands", "q_lsh_pairs", "q_near_dup_pairs",
    "q_simhash_pairs", "q_substring_pairs", "q_knn_cosine", "q_ann_buckets",
    "q_ann_hamming_knn", "q_ann_forest_knn")
  val Layers = Seq("index_build", "query")
  val queryZeros: Map[String, Double] = Queries.map(q => s"query.$q.p50_ms" -> 0.0).toMap
}
