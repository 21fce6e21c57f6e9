package graft.pipeline

import graft.conf.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate detection + clustering over the input_hint
  * table (clip_id, bytes, sr_hz, dur_ms, codec, transcript) — the graft of
  * the reference's LSH capabilities onto a web-scale dedup pipeline:
  *
  *   decode + signatures (batched kernel, SURVEY §7.2)
  *   → band explode (L tables ↔ bands, §7.0)
  *   → band-key shuffle → candidate pairs with skew capping (§7.4)
  *   ∪ exact-substring seed candidates (§7.5)
  *   → exact verification (Q7)
  *   → connected components (§7.6)
  *   → (clip_id, cluster_id)
  *
  * Every stage is checkpointable (Parquet + manifest) and reports rows /
  * wall-clock / per-file lineage via [[Checkpoints]].
  */
object DedupPipeline {

  final case class Result(
      clusters: DataFrame,
      edges: DataFrame,
      stages: Seq[Checkpoints.StageInfo],
      /** Unpersist the run's internal intermediates (verify text phase,
        * signature/edge persists). Call after the outputs are materialized
        * — repeated runs in one session otherwise accumulate blocks. */
      cleanup: () => Unit = () => ())

  /** `inputSig` names the input; every stage's checkpoint key is it plus
    * the whole config (bar `checkpointDir`), so a run under any other
    * config recomputes instead of resuming the old config's stages. */
  def run(spark: SparkSession, clips: DataFrame, conf: GraftConf,
      inputSig: String = "default"): Result = {
    import spark.implicits._
    val stages = Seq.newBuilder[Checkpoints.StageInfo]
    val key = s"$inputSig ${conf.copy(checkpointDir = None)}"
    def stage(name: String)(compute: => DataFrame): DataFrame = {
      val (df, info) = Checkpoints.stage(spark, conf.checkpointDir, name, key)(compute)
      stages += info
      df
    }
    // Stage outputs consumed more than once downstream are materialized:
    // via parquet when checkpointing, via persist-with-spill otherwise —
    // without this, lazy evaluation re-runs the decode/signature kernel per
    // consumer branch.
    def materialized(df: DataFrame): DataFrame =
      if (conf.checkpointDir.isDefined) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val signatures = materialized(stage("signatures") {
      Signatures.compute(spark, clips, conf).toDF()
    })

    val bands = stage("bands") {
      // keys are family-salted in the kernel, so one explode covers all
      // band families (text/audio/simhash); src carries provenance bits
      signatures
        .select($"clip_id", explode(arrays_zip($"band_keys", $"band_srcs")).as("z"))
        .select($"z.band_keys".as("band_key"), $"z.band_srcs".as("src"), $"clip_id")
    }

    val candidates = stage("candidates") {
      // the substring pass reads the signature cache's ordered token
      // hashes — the corpus parquet is scanned exactly once, by the
      // signature stage
      CandidatePairs.fromBands(spark, bands, conf)
        .union(SuffixDups.candidatesFromTokenHashes(
          spark, signatures.select($"clip_id", $"toks_h"), conf))
        .groupBy($"a", $"b")
        .agg(expr("bit_or(sources)").as("sources"), max($"capped").as("capped"))
    }

    var releaseVerify: () => Unit = () => ()
    val verified = materialized(stage("verified") {
      val v = VerifyPairs.verify(spark, candidates, signatures, conf)
      releaseVerify = v.release
      v.edges
    })
    // checkpoint mode materializes the stage to parquet eagerly — the text
    // phase can be released immediately; persist mode defers to cleanup()
    if (conf.checkpointDir.isDefined) releaseVerify()

    val clusters = stage("clusters") {
      // vertex set from the signature cache (one row per input row, even
      // decode-failed ones) — not a tail-end re-scan of the corpus parquet
      val vertices = signatures.select($"clip_id")
      val edges = verified.filter($"accepted").select($"a", $"b")
      Components.connectedComponents(spark, vertices, edges, conf.maxCcIterations,
        conf.checkpointDir)
    }
    // the clusters stage is parquet now: CC's round checkpoints are garbage
    conf.checkpointDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(Components.rddCheckpointDir(d))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    val cleanup: () => Unit = () => {
      releaseVerify()
      Seq(signatures, verified).foreach(df => df.unpersist(false))
    }
    Result(clusters, verified, stages.result(), cleanup)
  }
}
