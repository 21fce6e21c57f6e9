package graft.tools

import graft.conf.GraftConf
import graft.pipeline.DedupPipeline
import graft.synth.ClipTableGen
import org.apache.spark.sql.SparkSession

/** Scaling probe: materialize the input once, then run the full pipeline at
  * each core count given, printing wall seconds + GC time deltas.
  * Usage: runMain graft.tools.ScaleProbe nClips c1 c2 c3... */
object ScaleProbe {
  private def session(cores: Int): SparkSession = {
    val aqe = sys.env.getOrElse("GRAFT_PROBE_AQE", "true")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"probe-$cores")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_PROBE_PARTITIONS", (2 * cores).toString))
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
    sys.env.get("GRAFT_PROBE_LOCAL_DIR").foreach(d => b.config("spark.local.dir", d))
    sys.env.get("GRAFT_PROBE_BROADCAST").foreach(v => b.config("spark.sql.autoBroadcastJoinThreshold", v))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def main(args: Array[String]): Unit = {
    // arg 0: row count to synthesize, or "dir:/path" to reuse a
    // pre-materialized clip table (then n is only used for clips/sec)
    val reuse = args(0).startsWith("dir:")
    val coreList = args.drop(1).map(_.toInt)
    val base = sys.env.get("GRAFT_PROBE_LOCAL_DIR")
      .map(d => java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(d), "graft-probe"))
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-probe"))
    val dir = if (reuse) args(0).stripPrefix("dir:") else base.toString + "/clips"
    val s0 = session(coreList.max)
    if (!reuse) ClipTableGen.table(s0, args(0).toInt).write.mode("overwrite").parquet(dir)
    val n = if (reuse) s0.read.parquet(dir).count().toInt else args(0).toInt
    // warmup
    DedupPipeline.run(s0, s0.read.parquet(dir).limit(2000), GraftConf()).clusters.count()
    s0.stop()

    coreList.foreach { cores =>
      val s = session(cores)
      // per-job wall breakdown (GRAFT_PROBE_JOBS=1): exposes the serial
      // job-latency floor that caps scaling efficiency
      if (sys.env.contains("GRAFT_PROBE_JOBS")) {
        import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
        s.sparkContext.addSparkListener(new SparkListener {
          private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
          override def onJobStart(j: SparkListenerJobStart): Unit = {
            val name = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n').take(60)).getOrElse("?")
            starts.put(j.jobId, (System.nanoTime(), cpuNanos, name))
          }
          override def onJobEnd(j: SparkListenerJobEnd): Unit = {
            // jobs are sequential in this pipeline, so a process-CPU delta
            // per job attributes the contention to the job that paid it
            Option(starts.get(j.jobId)).foreach { case (t0, c0, name) =>
              System.err.println(f"[job] id=${j.jobId}%3d wall=${(System.nanoTime() - t0) / 1e9}%7.2fs cpu=${(cpuNanos - c0) / 1e9}%8.2fs $name")
            }
          }
        })
      }
      val gc0 = gcMillis
      val cpu0 = cpuNanos
      val t0 = System.nanoTime()
      val res = DedupPipeline.run(s, s.read.parquet(dir), GraftConf())
      res.clusters.count()
      val wall = (System.nanoTime() - t0) / 1e9
      res.cleanup()
      val gc = (gcMillis - gc0) / 1000.0
      val cpu = (cpuNanos - cpu0) / 1e9
      println(f"[probe] cores=$cores%2d wall=$wall%7.2fs cpu=$cpu%8.2fs gc=$gc%6.2fs clips/sec=${n / wall}%8.1f")
      s.stop()
    }
    Scratch.deleteRec(base.toFile)
  }
}
