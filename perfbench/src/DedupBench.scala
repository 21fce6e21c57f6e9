package perfbench

import scala.collection.mutable

import graft.conf.GraftConf
import graft.pipeline.{CandidatePairs, Checkpoints, Components, DedupPipeline, Signatures, SuffixDups, VerifyPairs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The `dedup_skew_ckpt` workload: a closed loop with one caller, each
  * `DedupPipeline.run` waiting for the previous one, over a seeded parquet
  * input written during set-up, with stage checkpoints in a fresh
  * directory per run. */
final class DedupBench(spark: SparkSession, a: Args, sessionS: Double) {
  import spark.implicits._
  private val sc = spark.sparkContext
  private val checks = new Checks

  private var ckptSeq = 0
  /** A fresh checkpoint directory (and CC RDD-checkpoint dir) per run, so
    * no run can resume another's stages. */
  private def freshConf(): GraftConf = {
    ckptSeq += 1
    val dir = s"${a.work}/ckpt-$ckptSeq"
    sc.setCheckpointDir(s"$dir/cc-rdd")
    GraftConf(checkpointDir = Some(dir))
  }

  private def dropCheckpoints(conf: GraftConf): Unit =
    conf.checkpointDir.foreach(d => Util.deleteRec(new java.io.File(d)))

  final case class Run(wallS: Double, cpuS: Double, fingerprint: Long, rows: Long,
      resumed: Seq[String], clusters: DataFrame, release: () => Unit)

  /** One untraced pipeline run, timed up to materialized clusters. */
  private def pipelineRun(clips: DataFrame): Run = {
    val conf = freshConf()
    val cpu0 = Util.processCpuS()
    val t0 = System.nanoTime()
    val res = DedupPipeline.run(spark, clips, conf)
    val clusters = res.clusters.persist(StorageLevel.MEMORY_AND_DISK)
    val (fp, rows) = Util.fingerprint(clusters)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Util.processCpuS() - cpu0
    Run(wall, cpu, fp, rows, res.stages.filter(_.resumed).map(_.name), clusters, () => {
      clusters.unpersist(false)
      res.cleanup()
      dropCheckpoints(conf)
    })
  }

  def run(): Result = {
    // set-up is repeated for its median only when set-up time is reported
    val reps = if (a.trace) 1 else Util.SetupReps
    val setupReps = (1 to reps).map { r =>
      ClipInputs.write(spark, a.seed, s"${a.work}/input-$r", truth = r == reps)
    }
    (1 until reps).foreach(r => Util.deleteRec(new java.io.File(s"${a.work}/input-$r")))
    val inputDir = s"${a.work}/input-$reps"
    val clips = spark.read.parquet(s"$inputDir/clips")
    val truth = spark.read.parquet(s"$inputDir/truth")
    val inputRows = clips.count()

    def problems(r: Run, expectFp: Long): Seq[String] =
      Seq(
        (r.rows != inputRows) -> s"clusters has ${r.rows} rows for $inputRows input rows",
        (r.fingerprint != expectFp) -> f"cluster fingerprint ${r.fingerprint}%x != $expectFp%x",
        r.resumed.nonEmpty -> s"stages resumed: ${r.resumed.mkString(",")}"
      ).collect { case (true, msg) => msg }

    // The first run in the fresh JVM pays JIT and code generation. Its
    // clusters are scored against the truth (untimed), each family of
    // planted groups on its own, so the many pairs of the repeated ads
    // cannot hide pairs lost among the generator's groups; every later run
    // must reproduce its fingerprint. The score against the generator's own
    // labels is reported, not gated: it counts the textnear variants that
    // fall below the duplicate criterion (NOTES, "Known defects").
    val first = pipelineRun(clips)
    val score = ClipInputs.score(first.clusters, truth)
    val plantedScore = ClipInputs.score(first.clusters, truth, "planted_group")
    val familyRecall = ClipInputs.Families.map { case (family, _) => family -> score.recall(family) }
    val recall = familyRecall.map(_._2).min
    checks.op(problems(first, first.fingerprint) ++ familyRecall.collect {
      case (family, r) if r < 0.99 => f"dup_pair_recall of the $family groups $r%.4f < 0.99"
    })
    first.release()
    val report = mutable.LinkedHashMap[String, Any](
      "input_rows" -> inputRows, "planted_pairs" -> score.planted,
      "true_pairs" -> score.truePairs, "co_cluster_pairs" -> score.coClustered,
      "dup_pair_recall" -> recall, "dup_pair_precision" -> score.precision, "setup_reps_s" -> setupReps,
      "session_s" -> sessionS, "first_pass_s" -> first.wallS, "jit_settle_s" -> Util.settleJit())
    report ++= familyRecall.map { case (family, r) => s"${family}_recall" -> r }
    report ++= Seq("generator_label_pairs" -> plantedScore.planted.getOrElse("generator", 0L),
      "generator_label_recall" -> plantedScore.recall("generator"))

    val metrics: Map[String, Double] =
      if (!a.trace) {
        val runs = mutable.ArrayBuffer.empty[Run]
        while (runs.isEmpty || runs.map(_.wallS).sum < a.seconds) {
          val r = pipelineRun(clips)
          checks.op(problems(r, first.fingerprint))
          r.release()
          runs += r
        }
        val warmClips = inputRows.toDouble * runs.length
        report ++= Seq("warm_runs" -> runs.length, "warm_wall_s" -> runs.map(_.wallS),
          "warm_cpu_s" -> runs.map(_.cpuS))
        Map(
          "items_per_s" -> warmClips / runs.map(_.wallS).sum,
          "cpu_ms_per_item" -> runs.map(_.cpuS).sum * 1000 / warmClips,
          "first_pass_s" -> first.wallS,
          "dup_pair_recall" -> recall,
          "dup_pair_precision" -> score.precision,
          "setup_s" -> (sessionS + Util.median(setupReps)))
      } else {
        // the untraced reference for trace_overhead: a warm run just before the traced one
        val untraced = pipelineRun(clips)
        checks.op(problems(untraced, first.fingerprint))
        untraced.release()
        val (tracedFp, resumed, layerMetrics) = traced(clips)
        checks.op(Seq(
          (tracedFp != first.fingerprint) -> f"traced run drifted: fingerprint $tracedFp%x != ${first.fingerprint}%x",
          resumed.nonEmpty -> s"traced stages resumed: ${resumed.mkString(",")}"
        ).collect { case (true, msg) => msg })
        val traceSum = DedupBench.Layers.map(l => layerMetrics(s"$l.wall_s")).sum
        layerMetrics + ("trace_overhead" -> traceSum / untraced.wallS)
      }
    Result(metrics, report.toMap, checks)
  }

  /** The pipeline wired exactly as `DedupPipeline.run` wires it in
    * checkpoint mode, with a span around each layer's public entry point.
    * The pipeline's five stages (signatures, bands, candidates, verified,
    * clusters) are written and read back through `Checkpoints.stage` inside
    * their layer's span, as the pipeline does; the two candidate generators,
    * which the pipeline computes inside its candidates stage, are persisted
    * so that each gets a span of its own. */
  private def traced(clips: DataFrame): (Long, Seq[String], Map[String, Double]) = {
    val conf = freshConf()
    val tr = new Tracer(sc, s"${a.workload}-${a.seed}-traced")
    val infos = mutable.ArrayBuffer.empty[Checkpoints.StageInfo]
    val persisted = mutable.ArrayBuffer.empty[DataFrame]

    def stage(layer: String, stageName: String)(compute: => DataFrame): DataFrame =
      tr.span(layer) {
        val (df, info) = Checkpoints.stage(spark, conf.checkpointDir, stageName, "default")(compute)
        infos += info
        df
      }

    def persist(layer: String)(compute: => DataFrame): DataFrame = {
      val df = tr.span(layer) {
        val p = compute.persist(StorageLevel.MEMORY_AND_DISK)
        p.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
        p
      }
      persisted += df
      df
    }

    val (fp, counts) = tr.span("pipeline") {
      val signatures = stage("signatures", "signatures") {
        Signatures.compute(spark, clips, conf).toDF()
      }
      val bands = stage("bands", "bands") {
        signatures
          .select($"clip_id", explode(arrays_zip($"band_keys", $"band_srcs")).as("z"))
          .select($"z.band_keys".as("band_key"), $"z.band_srcs".as("src"), $"clip_id")
      }
      val candBands = persist("cand_bands") {
        CandidatePairs.fromBands(spark, bands, conf)
      }
      val candSuffix = persist("cand_suffix") {
        SuffixDups.candidatesFromTokenHashes(spark, signatures.select($"clip_id", $"toks_h"), conf)
      }
      val candidates = stage("cand_union", "candidates") {
        candBands.union(candSuffix)
          .groupBy($"a", $"b")
          .agg(expr("bit_or(sources)").as("sources"), max($"capped").as("capped"))
      }
      var release: () => Unit = () => ()
      val verified = stage("verify", "verified") {
        val v = VerifyPairs.verify(spark, candidates, signatures, conf)
        release = v.release
        v.edges
      }
      release()
      val clusters = stage("cc", "clusters") {
        val vertices = signatures.select($"clip_id")
        val edges = verified.filter($"accepted").select($"a", $"b")
        Components.connectedComponents(spark, vertices, edges, conf.maxCcIterations, conf.checkpointDir)
      }
      val fp = Util.fingerprint(clusters)._1

      // domain counts, read from the materialized outputs outside the layer spans
      val nCandBands = candBands.count()
      val nCandSuffix = candSuffix.count()
      val nCand = candidates.count()
      val accepted = verified.filter($"accepted").count()
      val counts = Map(
        "signatures.rows_out" -> signatures.count().toDouble,
        "signatures.decode_fail" -> signatures.filter(!$"decode_ok").count().toDouble,
        "bands.rows_out" -> bands.count().toDouble,
        "bands.max_bucket" -> bands.groupBy($"band_key").count().agg(max($"count")).head().getLong(0).toDouble,
        "cand_bands.pairs_out" -> nCandBands.toDouble,
        "cand_bands.capped_pairs" -> candBands.filter($"capped").count().toDouble,
        "cand_suffix.pairs_out" -> nCandSuffix.toDouble,
        "cand_suffix.capped_pairs" -> candSuffix.filter($"capped").count().toDouble,
        "cand_union.pairs_out" -> nCand.toDouble,
        "cand_union.dedup_ratio" -> Util.ratio(nCand, nCandBands + nCandSuffix),
        "verify.accepted" -> accepted.toDouble,
        "verify.accept_ratio" -> Util.ratio(accepted, nCand),
        "verify.audio_phase_pairs" -> verified
          .filter($"text_jaccard" < conf.textJaccardThreshold && !$"substring").count().toDouble,
        "cc.edges_in" -> accepted.toDouble,
        "cc.largest_cluster" -> clusters.groupBy($"cluster_id").count()
          .agg(max($"count")).head().getLong(0).toDouble,
        "checkpoint.write_s" -> infos.map(_.wallMs).sum / 1e3,
        "checkpoint.bytes_mb" -> Util.treeBytes(conf.checkpointDir.get, "cc-rdd") / 1048576.0)
      (fp, counts)
    }
    persisted.foreach(_.unpersist(false))
    dropCheckpoints(conf)
    tr.write(s"${a.traceDir}/${a.workload}-${a.seed}.spans.json")

    val layers = DedupBench.Layers.flatMap(l => tr.layerMetrics(l, Set(l), Util.Cores)) ++
      tr.layerMetrics("checkpoint", DedupBench.StageLayers, Util.Cores) ++
      AnnBench.Layers.flatMap(l => tr.layerMetrics(l, Set(l), Util.Cores))
    (fp, infos.filter(_.resumed).map(_.name).toSeq, AnnBench.queryZeros ++ layers ++ counts)
  }
}

object DedupBench {
  val Layers = Seq("signatures", "bands", "cand_bands", "cand_suffix", "cand_union", "verify", "cc")
  /** The layers whose span is one `Checkpoints.stage` call: the `checkpoint`
    * layer's figures are theirs, summed. */
  val StageLayers = Set("signatures", "bands", "cand_union", "verify", "cc")
}
