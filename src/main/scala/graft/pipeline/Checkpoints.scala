package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Checkpointed stage boundaries + per-file lineage.
  *
  * The reference's persistence surface is an unimplemented stub
  * (`saveTable`, `/root/reference/hashIndex/StdHashIndex.h:189-192` and
  * equivalents) — this engine adds the real thing, which the north rule
  * requires: every pipeline stage writes Parquet plus one metadata file,
  * `_MANIFEST_<stage>.json`, holding the stage name, input signature, row
  * count, wall ms, per-output-file row lineage (`partitions`) and the
  * written `schema`. It is written once, after the parquet write, by tmp
  * file plus atomic move. On rerun, a stage whose parsed manifest carries
  * the caller's input signature and the part files' current lineage is
  * read back instead of recomputed, so a killed job resumes from the last
  * completed stage with byte-identical results (everything downstream is a
  * pure function of seeds + inputs).
  *
  * A boundary costs one Spark job, its write; a resumed stage costs none:
  *  - The read-back takes the manifest's schema, so no schema-inference job
  *    runs.
  *  - Per-file rows come from the parquet footers of the stage's part
  *    files, read on the driver (metadata only, no job). Zero-row files
  *    are left out, so the lineage equals `input_file_name()` counts of the
  *    read-back.
  *  - A resume checks that lineage against the manifest: a missing, extra
  *    resized or unreadable part file recomputes the stage, and a resumed
  *    [[StageInfo]] reports the files and rows it read.
  *  - A manifest that does not parse, or lacks a field (every dir written
  *    before the schema moved into the manifest), is stale: its stage
  *    recomputes once.
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

  private implicit val formats: Formats = DefaultFormats

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
        // read, and the native kernels (graft.functions.ArraySetExprs)
        // reject nullable-element arrays: the read-back re-tightens what the
        // manifest's schema records as tight (graft.functions.SchemaAsserts,
        // a zero-cost static assertion), so a resumed stage keeps its schema.
        def readBack(written: StructType): DataFrame =
          graft.functions.SchemaAsserts.tightenArrays(spark.read.schema(written).parquet(dir), written)
        // an absent manifest, or an unreadable footer, counts as a change
        val resumed = for {
          (sig, lineage, written) <- readManifest(manifestPath) if sig == inputSig
          files <- Try(partFiles(spark, dir)).toOption.flatten if files == lineage
        } yield (readBack(written), StageInfo(name, inputSig, files.map(_._2).sum, 0L, resumed = true, files))
        resumed.getOrElse {
          Files.deleteIfExists(manifestPath) // stale: input or part files changed → recompute
          val t0 = System.nanoTime()
          val out = compute
          out.write.mode("overwrite").parquet(dir)
          val files = partFiles(spark, dir).getOrElse(Nil)
          val info = StageInfo(name, inputSig, files.map(_._2).sum, (System.nanoTime() - t0) / 1000000,
            resumed = false, files)
          val manifest = JObject(
            "stage" -> JString(name),
            "input_sig" -> JString(inputSig),
            "rows" -> JLong(info.rows),
            "wall_ms" -> JLong(info.wallMs),
            "partitions" -> JArray(files.map { case (f, n) =>
              JObject("file" -> JString(f), "rows" -> JLong(n)) }.toList),
            "schema" -> parse(out.schema.json))
          val tmp = Paths.get(s"$manifestPath.tmp")
          Files.write(tmp, compact(render(manifest)).getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          (readBack(out.schema), info)
        }
    }
  }

  /** (input signature, lineage, written schema) of a stage manifest; None
    * when it does not parse or lacks one of them. */
  private def readManifest(path: JPath): Option[(String, Seq[(String, Long)], StructType)] = Try {
    val m = parse(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    val JArray(parts) = m \ "partitions"
    val schema = DataType.fromJson(compact(render((m \ "schema").extract[JObject])))
    ((m \ "input_sig").extract[String],
      parts.map(p => ((p \ "file").extract[String], (p \ "rows").extract[Long])),
      schema.asInstanceOf[StructType])
  }.toOption

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
}
