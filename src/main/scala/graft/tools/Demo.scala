package graft.tools

import java.io.File
import java.nio.file.Files

import graft.conf.GraftConf
import graft.pipeline.DedupPipeline
import graft.synth.ClipTableGen
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end driver through the public API: synthesize the input_hint
  * table and write it as parquet (`<checkpointDir>-input`, or a temp dir
  * without one), run the dedup pipeline with checkpoints over the files,
  * print cluster stats and the whole-stage classes the run compiled.
  * Usage: runMain graft.tools.Demo [nClips] [checkpointDir] */
object Demo {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000
    val ckpt = if (args.length > 1) Some(args(1)) else None
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val clips = ClipTableGen.table(spark, n).toDF()
    // hostile rows: malformed WAV, empty transcript, nulls
    val hostile = Seq(
      ("bad-wav-1", Array[Byte](1, 2, 3), 8000, 10, "pcm_s16le", "some ordinary transcript text here"),
      ("empty-text", graft.audio.WavCodec.encode(Array.fill[Short](2048)(100), 8000), 8000, 256, "pcm_s16le", ""),
      ("null-ish", Array.empty[Byte], 8000, 0, "pcm_s16le", "x")
    ).toDF("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    // The input as a parquet table beside the checkpoint dir, written
    // before the timed run and read back, as graft.Bench and perfbench read
    // theirs: the stage split then times the pipeline, not the generator.
    val inputDir = ckpt.fold(Files.createTempDirectory("graft-demo-input").toString)(d => s"${d.stripSuffix("/")}-input")
    clips.unionByName(hostile).write.mode("overwrite").parquet(inputDir)
    val input = spark.read.parquet(inputDir)

    val compiled0 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    val t0 = System.nanoTime()
    val res = DedupPipeline.run(spark, input, GraftConf(checkpointDir = ckpt), inputSig = s"demo-$n")
    val clusters = res.clusters.cache()
    val total = clusters.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val compiled = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - compiled0
    val sizes = clusters.groupBy($"cluster_id").count()
      .groupBy($"count".as("cluster_size")).count().orderBy($"cluster_size").collect()
    println(f"rows=$total%d wall=$wall%.1fs clips/sec=${total / wall}%.0f codegen_classes=$compiled%d")
    println("cluster size histogram: " + sizes.map(r => s"${r.get(0)}x${r.get(1)}").mkString(" "))
    res.stages.foreach(s => println(f"stage ${s.name}%-12s rows=${s.rows}%8d wall_ms=${s.wallMs}%6d resumed=${s.resumed}"))
    val accepted = res.edges.filter($"accepted").count()
    val rejected = res.edges.filter(!$"accepted").count()
    println(s"edges accepted=$accepted rejectedByVerify=$rejected")
    clusters.filter($"clip_id".isin("bad-wav-1", "empty-text", "null-ish")).show(false)
    spark.stop()
    if (ckpt.isEmpty) Scratch.deleteRec(new File(inputDir))
  }
}
