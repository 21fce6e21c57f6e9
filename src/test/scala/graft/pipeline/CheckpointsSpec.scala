package graft.pipeline

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import graft.tools.Scratch
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** `Checkpoints`: what a stage boundary costs in Spark jobs, the footer
  * lineage against a scan of the read-back, the read-back schema, and
  * resume validation against the recorded lineage. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def withRoot[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt-spec").toFile
    try body(dir.getPath) finally Scratch.deleteRec(dir)
  }

  def jobs[T](body: => T): (T, Int) = JobCounter.count(spark.sparkContext)(body)

  /** The lineage as it was taken before footers: `input_file_name()`
    * counts over a scan of the read-back. */
  def scannedLineage(df: DataFrame): Seq[(String, Long)] =
    df.groupBy(input_file_name()).count().collect()
      .map(r => (r.getString(0).replaceAll(".*/", ""), r.getLong(1))).toSeq.sortBy(_._1)

  /** A shuffle-free stage with tight arrays, a nullable column and a
    * non-nullable one, written as four part files. */
  def narrow(n: Long): DataFrame =
    spark.range(0, n, 1, 4).select($"id", array($"id", $"id" + 1).as("arr"),
      when($"id" % 3 === 0, lit(null)).otherwise($"id".cast("string")).as("s"))

  def stage(root: String, name: String = "s")(compute: => DataFrame) =
    Checkpoints.stage(spark, Some(root), name, "sig")(compute)

  def partPaths(dir: String): Seq[File] =
    new File(dir).listFiles.toSeq.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  test("a fresh stage runs exactly one job (its write); a resumed stage runs none") {
    withRoot { root =>
      val ((df, info), fresh) = jobs(stage(root)(narrow(1000)))
      assert(fresh === 1)
      assert(!info.resumed && info.rows === 1000 && info.files.size === 4)
      val ((df2, info2), resumed) = jobs(stage(root)(sys.error("a resumed stage must not compute")))
      assert(resumed === 0)
      assert(info2.resumed && info2.rows === 1000 && info2.files === info.files)
      assert(df2.as[(Long, Seq[Long], String)].collect().sortBy(_._1).toSeq ===
        df.as[(Long, Seq[Long], String)].collect().sortBy(_._1).toSeq)
    }
  }

  test("manifest per-file rows equal input_file_name() counts of the read-back, zero-row stage included") {
    withRoot { root =>
      val skewed = narrow(2000).repartition(5, ($"id" % 7).cast("int"))
      val (df, info) = stage(root, "skewed")(skewed)
      assert(info.files === scannedLineage(df))
      assert(info.rows === 2000 && info.files.map(_._2).sum === 2000)
      val manifest = new String(Files.readAllBytes(Paths.get(s"$root/_MANIFEST_skewed.json")), "UTF-8")
      info.files.foreach { case (f, n) => assert(manifest.contains(s"""{"file": "$f", "rows": $n}""")) }

      val (empty, emptyInfo) = stage(root, "empty")(narrow(100).filter($"id" < 0))
      assert(scannedLineage(empty) === Nil)
      assert(emptyInfo.files === Nil && emptyInfo.rows === 0)
      val (_, emptyResumed) = stage(root, "empty")(sys.error("recomputed"))
      assert(emptyResumed.resumed && emptyResumed.rows === 0)
    }
  }

  test("read-back schema equals the inferred-then-tightened schema, and a dir without a sidecar still reads") {
    withRoot { root =>
      val sigs = Signatures.compute(spark, ClipTableGen.table(spark, 40, 3L), GraftConf()).toDF()
      for ((name, compute) <- Seq("narrow" -> narrow(50), "signatures" -> sigs)) {
        val (df, _) = stage(root, name)(compute)
        val written = DataType.fromJson(new String(
          Files.readAllBytes(Paths.get(s"$root/_SCHEMA_$name.json")), "UTF-8")).asInstanceOf[StructType]
        val inferred = graft.functions.SchemaAsserts.tightenArrays(spark.read.parquet(s"$root/$name"), written)
        assert(df.schema === inferred.schema, name)
        assert(df.schema.map(f => (f.name, f.dataType)) === compute.schema.map(f => (f.name, f.dataType)), name)
      }
      // a stage written before sidecar schemas existed: inference, widened
      Files.delete(Paths.get(s"$root/_SCHEMA_narrow.json"))
      val (old, info) = stage(root, "narrow")(sys.error("recomputed"))
      assert(info.resumed && old.count() === 50)
    }
  }

  test("resume recomputes a stage whose part files are missing, extra, resized or unreadable") {
    withRoot { root =>
      var computed = 0
      def run() = stage(root)({ computed += 1; narrow(1000) })._2
      val first = run()
      val parts = partPaths(s"$root/s")
      assert(parts.size === 4 && computed === 1)

      Files.delete(parts.head.toPath) // missing
      assert(!run().resumed && computed === 2)

      val now = partPaths(s"$root/s")
      Files.copy(now.head.toPath, Paths.get(s"$root/s/part-99999-extra.snappy.parquet")) // extra
      assert(!run().resumed && computed === 3)

      // resized: one part file replaced by a file of another row count
      // under the same name
      val other = s"$root/other"
      narrow(10).coalesce(1).write.parquet(other)
      val target = partPaths(s"$root/s").head.toPath
      Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
      Files.copy(partPaths(other).head.toPath, target, StandardCopyOption.REPLACE_EXISTING)
      assert(!run().resumed && computed === 4)

      // unreadable: a part file whose bytes no longer match its checksum
      val crcd = partPaths(s"$root/s").head.toPath
      Files.write(crcd, Files.readAllBytes(partPaths(other).head.toPath))
      assert(!run().resumed && computed === 5)

      val resumed = run()
      assert(resumed.resumed && computed === 5)
      assert(resumed.rows === first.rows && resumed.files.map(_._2).sorted === first.files.map(_._2).sorted)
    }
  }

  test("an input signature with JSON escapes resumes; a deleted part file recomputes only its stage") {
    withRoot { root =>
      val df = ClipTableGen.table(spark, 120, 42L).toDF()
      val conf = GraftConf(checkpointDir = Some(root))
      val sig = "t\"1\\x"
      def run() = {
        val r = DedupPipeline.run(spark, df, conf, inputSig = sig)
        (r.clusters.as[(String, String)].collect().toMap, r.stages)
      }
      val (c1, s1) = run()
      assert(s1.forall(!_.resumed))
      val (c2, s2) = run()
      assert(s2.map(s => (s.name, s.resumed)).forall(_._2), s2.map(s => (s.name, s.resumed)).toString)
      assert(s2.map(s => (s.name, s.rows, s.files)) === s1.map(s => (s.name, s.rows, s.files)))
      assert(c2 === c1)

      Files.delete(partPaths(s"$root/verified").head.toPath)
      val (c3, s3) = run()
      assert(s3.map(s => (s.name, s.resumed)) === Seq("signatures" -> true, "bands" -> true,
        "candidates" -> true, "verified" -> false, "clusters" -> true))
      assert(c3 === c1)
      assert(s3.find(_.name == "verified").get.rows === s1.find(_.name == "verified").get.rows)
    }
  }
}
