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
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.scalatest.funsuite.AnyFunSuite

/** `Checkpoints`: what a stage boundary costs in Spark jobs, the footer
  * lineage against a scan of the read-back, the read-back schema, and
  * resume validation against the parsed manifest. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  implicit val formats: Formats = DefaultFormats

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

  def manifestPath(root: String, name: String) = Paths.get(s"$root/_MANIFEST_$name.json")

  def manifest(root: String, name: String): JValue =
    parse(new String(Files.readAllBytes(manifestPath(root, name)), "UTF-8"))

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

  test("without a checkpoint dir a stage is a pass-through: no job, rows and wall ms unmeasured (-1)") {
    val plan = narrow(100)
    val ((df, info), n) = jobs(Checkpoints.stage(spark, None, "s", "sig")(plan))
    assert(n === 0 && (df eq plan))
    assert(info === Checkpoints.StageInfo("s", "sig", -1L, -1L, resumed = false, Nil))
  }

  test("manifest per-file rows equal input_file_name() counts of the read-back, zero-row stage included") {
    withRoot { root =>
      val skewed = narrow(2000).repartition(5, ($"id" % 7).cast("int"))
      val (df, info) = stage(root, "skewed")(skewed)
      assert(info.files === scannedLineage(df))
      assert(info.rows === 2000 && info.files.map(_._2).sum === 2000)
      val m = manifest(root, "skewed")
      assert((m \ "stage").extract[String] === "skewed" && (m \ "input_sig").extract[String] === "sig")
      assert((m \ "rows").extract[Long] === 2000)
      assert((m \ "partitions").extract[List[JObject]]
        .map(p => ((p \ "file").extract[String], (p \ "rows").extract[Long])) === info.files)

      val (empty, emptyInfo) = stage(root, "empty")(narrow(100).filter($"id" < 0))
      assert(scannedLineage(empty) === Nil)
      assert(emptyInfo.files === Nil && emptyInfo.rows === 0)
      val (_, emptyResumed) = stage(root, "empty")(sys.error("recomputed"))
      assert(emptyResumed.resumed && emptyResumed.rows === 0)
    }
  }

  test("read-back schema is the manifest's written schema, tightened; a manifest without one recomputes") {
    withRoot { root =>
      val sigs = Signatures.compute(spark, ClipTableGen.table(spark, 40, 3L), GraftConf()).toDF()
      for ((name, compute) <- Seq("narrow" -> narrow(50), "signatures" -> sigs)) {
        val (df, _) = stage(root, name)(compute)
        val written = DataType.fromJson(compact(render(manifest(root, name) \ "schema"))).asInstanceOf[StructType]
        assert(written === compute.schema, name)
        val inferred = graft.functions.SchemaAsserts.tightenArrays(spark.read.parquet(s"$root/$name"), written)
        assert(df.schema === inferred.schema, name)
        val (resumed, info) = stage(root, name)(sys.error("recomputed"))
        assert(info.resumed && resumed.schema === df.schema, name)
        // containsNull included: ArrayType equality compares it
        assert(df.schema.map(f => (f.name, f.dataType)) === written.map(f => (f.name, f.dataType)), name)
      }
      // the manifest format from before the schema moved into it
      val files = (manifest(root, "narrow") \ "partitions").extract[List[JObject]]
        .map(p => s"""{"file": "${(p \ "file").extract[String]}", "rows": ${(p \ "rows").extract[Long]}}""")
      Files.write(manifestPath(root, "narrow"), ("""{"stage": "narrow", "input_sig": "sig", "rows": 50, """ +
        s""""wall_ms": 1, "partitions": ${files.mkString("[", ", ", "]")}}""").getBytes("UTF-8"))
      var computed = 0
      val (_, old) = stage(root, "narrow")({ computed += 1; narrow(50) })
      assert(!old.resumed && computed === 1)
      assert((manifest(root, "narrow") \ "schema").isInstanceOf[JObject])
      val (again, info) = stage(root, "narrow")(sys.error("recomputed"))
      assert(info.resumed && again.count() === 50)
    }
  }

  test("a truncated manifest recomputes its stage without throwing") {
    withRoot { root =>
      var computed = 0
      def run() = stage(root)({ computed += 1; narrow(100) })._2
      assert(!run().resumed && computed === 1)
      val bytes = Files.readAllBytes(manifestPath(root, "s"))
      Files.write(manifestPath(root, "s"), bytes.take(bytes.length / 2))
      val again = run()
      assert(!again.resumed && computed === 2 && again.rows === 100)
      assert(run().resumed && computed === 2)
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
      val stageNames = Seq("signatures", "candidates", "verified", "clusters")
      assert(s1.map(_.name) === stageNames)
      // one metadata file per stage, the manifest, and nothing else
      assert(new File(root).listFiles.filter(_.isFile).map(_.getName).toSet ===
        stageNames.map(n => s"_MANIFEST_$n.json").toSet)
      val (c2, s2) = run()
      assert(s2.map(s => (s.name, s.resumed)).forall(_._2), s2.map(s => (s.name, s.resumed)).toString)
      assert(s2.map(s => (s.name, s.rows, s.files)) === s1.map(s => (s.name, s.rows, s.files)))
      assert(c2 === c1)

      Files.delete(partPaths(s"$root/verified").head.toPath)
      val (c3, s3) = run()
      assert(s3.map(s => (s.name, s.resumed)) === Seq("signatures" -> true,
        "candidates" -> true, "verified" -> false, "clusters" -> true))
      assert(c3 === c1)
      assert(s3.find(_.name == "verified").get.rows === s1.find(_.name == "verified").get.rows)
    }
  }

  test("a checkpoint dir given as a file:// URI writes, resumes and recomputes its stage") {
    withRoot { root =>
      val uri = s"file://$root"
      val (_, fresh) = Checkpoints.stage(spark, Some(uri), "s1", "sig")(spark.range(5).toDF())
      assert(!fresh.resumed && fresh.rows === 5)
      assert(new File(root, "_MANIFEST_s1.json").isFile && !new File(root, "_MANIFEST_s1.json.tmp").exists)
      val (again, resumed) = Checkpoints.stage(spark, Some(uri), "s1", "sig")(fail("the stage must resume"))
      assert(resumed.resumed && again.count() === 5)
      val (other, changed) = Checkpoints.stage(spark, Some(uri), "s1", "sig2")(spark.range(3).toDF())
      assert(!changed.resumed && other.count() === 3)
    }
  }

  test("a pipeline run resumes all its stages under the same config and none under a changed one") {
    withRoot { root =>
      val df = ClipTableGen.table(spark, 120, 42L).toDF()
      val conf = GraftConf(checkpointDir = Some(root))
      def resumed(c: GraftConf) = DedupPipeline.run(spark, df, c).stages.map(s => (s.name, s.resumed))
      assert(resumed(conf).forall(!_._2))
      assert(resumed(conf).forall(_._2))
      val changed = resumed(conf.copy(textJaccardThreshold = 0.8))
      assert(changed.size === 4 && changed.forall(!_._2), changed.toString)
    }
  }
}
