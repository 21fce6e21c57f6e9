package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   PerfBench --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --trace-dir DIR --out FILE
  *             [--data DIR --setup-base-s X]   (ann_queries)
  *
  * Runs one workload in one local[4] JVM and writes a JSON result to
  * `--out`: the metrics, a report of supporting figures, the number of
  * operations attempted and every failed check. */
object PerfBench {

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Util.Cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * Util.Cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("trace-dir"), kv("out"))
    Util.watchHeap()
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try {
        a.workload match {
          case "ann_queries" =>
            new AnnBench(spark, a, sessionS, kv("setup-base-s").toDouble, kv("data")).run()
          case "dedup_skew_ckpt" => new DedupBench(spark, a, sessionS).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally spark.stop()
    Json.writeFile(a.out, Json.obj(Seq(
      "metrics" -> result.metrics, "report" -> (result.report ++ Seq(
        "peak_rss_mb" -> Util.peakRssMb(), "peak_heap_after_gc_mb" -> Util.heapAfterGcPeakMb())),
      "attempted" -> result.checks.attempted, "failed" -> result.checks.failed,
      "problems" -> result.checks.problems)))
  }
}
