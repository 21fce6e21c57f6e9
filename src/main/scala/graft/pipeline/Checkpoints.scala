package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Checkpointed stage boundaries + per-file lineage.
  *
  * The reference's persistence surface is an unimplemented stub
  * (`saveTable`, `/root/reference/hashIndex/StdHashIndex.h:189-192` and
  * equivalents) — this engine adds the real thing, which the north rule
  * requires: every pipeline stage writes Parquet plus a `_MANIFEST.json`
  * (stage name, input signature, row count, wall ms, per-output-file row
  * lineage). On rerun, a stage whose manifest exists and whose input
  * signature matches is read back instead of recomputed, so a killed job
  * resumes from the last completed stage with byte-identical results
  * (everything downstream is a pure function of seeds + inputs).
  *
  * A boundary costs one Spark job, its write; a resumed stage costs none:
  *  - The read-back takes the sidecar schema (`_SCHEMA_<stage>.json`), so
  *    no schema-inference job runs; dirs written before the sidecar
  *    existed keep inference.
  *  - Per-file rows come from the parquet footers of the stage's part
  *    files, read on the driver (metadata only, no job). Zero-row files
  *    are left out, so the lineage equals `input_file_name()` counts of the
  *    read-back.
  *  - A resume checks that lineage against the manifest: a missing, extra
  *    resized or unreadable part file recomputes the stage, and a resumed
  *    [[StageInfo]] reports the files and rows it read.
  *
  * With no checkpoint dir configured the runner is a pass-through (tests
  * that don't exercise resumability pay nothing).
  */
object Checkpoints {

  final case class StageInfo(
      name: String,
      inputSig: String,
      rows: Long,
      wallMs: Long,
      resumed: Boolean,
      files: Seq[(String, Long)])

  /** Run (or resume) one named stage. */
  def stage(
      spark: SparkSession,
      checkpointDir: Option[String],
      name: String,
      inputSig: String)(compute: => DataFrame): (DataFrame, StageInfo) = {
    checkpointDir match {
      case None =>
        val t0 = System.nanoTime()
        val df = compute
        (df, StageInfo(name, inputSig, -1L, (System.nanoTime() - t0) / 1000000, resumed = false, Nil))
      case Some(root) =>
        val dir = s"$root/$name"
        val manifestPath = Paths.get(s"$root/_MANIFEST_$name.json")
        // Spark's file sources widen every array element to nullable on
        // read (even an explicit read-schema is asNullable'd), so a naive
        // read-back would CHANGE the stage's schema — and downstream native
        // kernels (graft.functions.ArraySetExprs) reject nullable-element
        // arrays at analysis time rather than misread them. A sidecar
        // schema file records what was written; the read-back re-tightens
        // those columns with a zero-cost static assertion
        // (graft.functions.SchemaAsserts): a resumed stage is byte-identical
        // INCLUDING schema.
        val schemaPath = Paths.get(s"$root/_SCHEMA_$name.json")
        def readBack(): DataFrame =
          if (!Files.exists(schemaPath)) spark.read.parquet(dir) // pre-r5 dir: inferred, widened
          else {
            val written = DataType.fromJson(
              new String(Files.readAllBytes(schemaPath), StandardCharsets.UTF_8)).asInstanceOf[StructType]
            graft.functions.SchemaAsserts.tightenArrays(spark.read.schema(written).parquet(dir), written)
          }
        if (Files.exists(manifestPath)) {
          val m = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
          // an unreadable footer counts as a changed part file
          lazy val files = scala.util.Try(partFiles(spark, dir)).toOption.flatten
          if (m.contains(s""""input_sig": "${jsonEsc(inputSig)}"""") &&
              files.exists(f => m.contains(s""""partitions": ${lineageJson(f)}}"""))) {
            val f = files.get
            return (readBack(), StageInfo(name, inputSig, f.map(_._2).sum, 0L, resumed = true, f))
          }
          Files.delete(manifestPath) // stale: input or part files changed → recompute
        }
        val t0 = System.nanoTime()
        val out = compute
        out.write.mode("overwrite").parquet(dir)
        val tmp = Paths.get(schemaPath.toString + ".tmp")
        Files.write(tmp, out.schema.json.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, schemaPath, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        val files = partFiles(spark, dir).getOrElse(Nil)
        val wallMs = (System.nanoTime() - t0) / 1000000
        val info = StageInfo(name, inputSig, files.map(_._2).sum, wallMs, resumed = false, files)
        writeManifest(manifestPath.toString, info)
        (readBack(), info)
    }
  }

  /** (file name, rows) of each non-empty parquet part file of `dir`, from
    * the footers, sorted by name; None when `dir` does not exist. */
  private def partFiles(spark: SparkSession, dir: String): Option[Seq[(String, Long)]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(hconf)
    if (!fs.exists(path)) None
    else Some(fs.listStatus(path).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, hconf))
        try (s.getPath.getName, reader.getRecordCount) finally reader.close()
      }
      .filter(_._2 > 0)
      .sortBy(_._1))
  }

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def lineageJson(files: Seq[(String, Long)]): String =
    files.map { case (f, n) => s"""{"file": "${jsonEsc(f)}", "rows": $n}""" }.mkString("[", ", ", "]")

  def writeManifest(path: String, info: StageInfo): Unit = {
    val json =
      s"""{"stage": "${jsonEsc(info.name)}", "input_sig": "${jsonEsc(info.inputSig)}", """ +
        s""""rows": ${info.rows}, "wall_ms": ${info.wallMs}, "partitions": ${lineageJson(info.files)}}"""
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
