package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, traceDir: String, out: String)

/** What a workload hands back: the metrics to print, a report of
  * supporting figures, and the checks it made. */
final case class Result(metrics: Map[String, Double], report: Map[String, Any], checks: Checks)

/** Operations attempted and failed; an operation fails when any of its
  * output checks does. */
final class Checks {
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def op(found: Seq[String]): Unit = {
    attempted += 1
    if (found.nonEmpty) { failed += 1; problems ++= found }
  }
}

object Util {
  val Cores = 4
  val SetupReps = 3

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Wait, at most `maxS` seconds, until the JIT compiler has been idle for
    * half a second, and return the seconds waited: work it queued during the first pass would otherwise
    * compete with the warm operations for the same cores. */
  def settleJit(maxS: Double = 8.0): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && (System.nanoTime() - t0) / 1e9 < maxS) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcMax = 0L

  /** Track the largest heap occupancy left right after a garbage collection:
    * live data plus what that collection did not reach. Unlike the resident
    * set, it does not follow how far the collector chose to grow the heap. */
  def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapAfterGcMax = math.max(heapAfterGcMax, used) }
        }
      }, null, null)
    case _ =>
  }

  def heapAfterGcPeakMb(): Double = heapAfterGcMax / 1048576.0

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def ratio(num: Long, den: Long): Double = if (den == 0) 0.0 else num.toDouble / den

  /** Order-independent cluster fingerprint and row count. */
  def fingerprint(clusters: DataFrame): (Long, Long) = {
    val r = clusters.agg(coalesce(expr("bit_xor(xxhash64(clip_id, cluster_id))"), lit(0L)), count(lit(1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Bytes of all files under `dir`, skipping subdirectories named `skip`. */
  def treeBytes(dir: String, skip: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) {
        if (f.getName == skip) 0L else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      } else f.length()
    walk(new File(dir))
  }

  /** Domain counts every traced run reports, zero where the layer is idle. */
  val domainZero: Map[String, Double] = Seq(
    "signatures.rows_out", "signatures.decode_fail", "bands.rows_out", "bands.max_bucket",
    "cand_bands.pairs_out", "cand_bands.capped_pairs", "cand_suffix.pairs_out",
    "cand_suffix.capped_pairs", "cand_union.pairs_out", "cand_union.dedup_ratio",
    "verify.accepted", "verify.accept_ratio", "verify.audio_phase_pairs",
    "cc.edges_in", "cc.largest_cluster", "checkpoint.write_s", "checkpoint.bytes_mb"
  ).map(_ -> 0.0).toMap
}
