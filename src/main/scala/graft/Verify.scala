package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Inputs for the recursive-closure cluster oracle: the accepted edge
    // list + vertex set of the SAME pipeline run the cluster queries read
    // (ClipQueries caches the run per session). Underscore-prefixed dirs:
    // these are oracle INPUTS, not queries — the prefix keeps conventional
    // directory enumerations from listing them as rows-only query outputs.
    try {
      graft.queries.ClipQueries.acceptedEdges(spark)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_cc_edges")
      graft.queries.ClipQueries.vertices(spark)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_cc_vertices")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] cc oracle dump failed: ${e.getMessage}")
    }
    // Kernel-stage dumps for the property oracles (Gram / variance-order /
    // shingle-count checks — DuckDB recomputes the property from these and
    // the driver hash-matches the expected values the queries emit).
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "_rotation_matrix" -> (() => graft.queries.KernelQueries.rotationMatrixDump(spark)),
      "_pca_basis" -> (() => graft.queries.KernelQueries.pcaBasisDump(spark, sfDir)),
      "_audio_frame_tokens" -> (() => graft.queries.ClipQueries.audioFrameTokensDump(spark))
    ).foreach { case (name, df) =>
      try df().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name dump failed: ${e.getMessage}")
      }
    }
    // {GRAFT_OUT} → absolute out dir (the closure oracle reads the edge
    // dump from this run's output directory)
    val absOut = new java.io.File(outDir).getAbsolutePath
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) =>
      k -> JString(v.replace("{GRAFT_OUT}", absOut)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    spark.stop()
  }
}
