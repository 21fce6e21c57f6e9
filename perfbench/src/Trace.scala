package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. Spans of one traced run share `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark task metrics summed over the jobs of one span. */
final class TaskTotals {
  var jobs = 0
  var cpuNs = 0L
  var gcMs = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val durationsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task duration of the stage with the most task time. */
  def taskSkew: Double =
    if (durationsByStage.isEmpty) 0.0
    else {
      val ds = durationsByStage.values.maxBy(_.sum).sorted
      val median = ds(ds.length / 2)
      if (median <= 0) 1.0 else ds.last.toDouble / median
    }
}

/** Groups Spark task metrics by job group; each span runs under a job group
  * named after the span, so the totals of one group belong to one span. */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, TaskTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        val t = totals.getOrElseUpdate(g, new TaskTotals)
        t.jobs += 1
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new TaskTotals)
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.taskMs += e.taskInfo.duration
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
      t.durationsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def forGroup(g: String): TaskTotals = synchronized(totals.getOrElse(g, new TaskTotals))
}

/** In-memory span recorder. `span` runs its body under a job group of its
  * own and records name, start, end and parent; nothing is written until
  * [[Tracer.write]] at the end of the run. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (stack.head == 0) sc.clearJobGroup() else sc.setJobGroup(group(stack.head), "", false)
      spans += Span(id, name, parent, runId, t0, t1)
    }
  }

  private def group(id: Int): String = s"$runId/$id"

  def all: Seq[Span] = spans.toSeq

  def rename(index: Int, name: String): Unit = spans(index) = spans(index).copy(name = name)

  /** Totals of `layer` over the spans named in `spanNames`, summed; Spark
    * task metrics come from each span's job group (after the listener bus
    * drains). */
  def layerMetrics(layer: String, spanNames: Set[String], cores: Int): Map[String, Double] = {
    org.apache.spark.PerfBenchBridge.drainListeners(sc)
    val ss = spans.filter(s => spanNames(s.name))
    val wall = ss.map(_.wallS).sum
    val ts = ss.map(s => listener.forGroup(group(s.id)))
    val taskMs = ts.map(_.taskMs).sum
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> wall,
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "idle_frac" -> (if (wall > 0) 1.0 - taskMs / 1e3 / (wall * cores) else 0.0),
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "task_skew" -> (if (ts.isEmpty) 0.0 else ts.map(_.taskSkew).max),
      "jobs" -> ts.map(_.jobs).sum.toDouble
    ).map { case (k, v) => s"$layer.$k" -> v }
  }

  def write(path: String): Unit = {
    val rows = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Json.writeFile(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
