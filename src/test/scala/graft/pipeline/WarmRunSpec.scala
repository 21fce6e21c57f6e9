package graft.pipeline

import java.io.File
import java.nio.file.Files

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import graft.tools.Scratch
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A pipeline run's generated classes fit the session's codegen cache
  * (`spark.sql.codegen.cache.maxEntries`, 100 by default and static), so a
  * run right after another recompiles nothing. A run whose plans need more
  * cache keys than that evicts its own classes and recompiles them every
  * time (~95 per run before CC's loop left Catalyst), and the JIT then
  * recompiles the new classes too.
  *
  * The cache is four 25-entry LRU segments, and a key hashes the class
  * loader's identity with the code (in `local` mode the driver and the
  * executor each key every whole-stage class), so a key's segment differs
  * from JVM to JVM. A checkpointed run's ~48 keys overflow one segment in
  * about one JVM in 17,000, which then recompiles that segment's classes
  * each run; two segments overflow far more rarely. The bound is therefore
  * one segment's worth, not zero. */
class WarmRunSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Recompiles a warm run may show: one overflowing cache segment. */
  private val OneSegment = 32

  /** The 120-row table as a parquet input, as a production run reads it. */
  private lazy val input: File = {
    val dir = Files.createTempDirectory("graft-warm-input").toFile
    ClipTableGen.table(spark, 120, 42L).write.mode("overwrite").parquet(dir.getPath)
    dir
  }

  /** Classes compiled by one run over the input, outputs read. */
  private def compiles(conf: GraftConf): Long = {
    val before = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    val res = DedupPipeline.run(spark, spark.read.parquet(input.getPath), conf)
    res.clusters.collect()
    res.cleanup()
    CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - before
  }

  test("a checkpointed run right after another recompiles at most one cache segment") {
    val dirs = Seq.fill(2)(Files.createTempDirectory("graft-warm").toFile)
    try {
      val counts = dirs.map(d => compiles(GraftConf(checkpointDir = Some(d.getPath))))
      assert(counts(1) <= OneSegment, s"classes compiled per run: $counts")
    } finally dirs.foreach(Scratch.deleteRec)
  }

  test("an in-memory run right after another recompiles at most one cache segment") {
    try {
      val counts = Seq.fill(2)(compiles(GraftConf()))
      assert(counts(1) <= OneSegment, s"classes compiled per run: $counts")
    } finally Scratch.deleteRec(input)
  }
}
