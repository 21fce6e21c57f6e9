package graft.queries

import graft.audio.{AudioFeatures, WavCodec}
import graft.conf.GraftConf
import graft.kernel.{MinHash, Probes, Shingles}
import graft.pipeline.{DedupPipeline, Signatures}
import graft.synth.ClipTableGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel-surface queries: the audio dedup pipeline itself, run end-to-end
  * over the deterministic synthetic clip table (BASELINE.json input_hint
  * shape — there is no driver-provided clip parquet, so the generator stands
  * in; seeded, no wall-clock). These are not SQL-expressible (WAV decode +
  * seeded kernels), so they carry no `oracleSql` — the driver records
  * rows-only checks, and `sbt test` holds the strong oracle
  * ([[graft.oracle.RefOracle]] cluster-assignment match ≥ 0.99).
  */
object ClipQueries {

  /** Fixed test-scale table size (rows ≈ NClips). */
  val NClips = 1200

  private def conf = GraftConf()

  private def clips(spark: SparkSession) = ClipTableGen.table(spark, NClips)

  /** One pipeline run per session: clusters and cluster-size queries (and
    * the Verify edge dump for the recursive-closure oracle) all read the
    * SAME run — no repeated decode/signature work, no leaked persisted
    * intermediates from redundant runs. */
  private val pipelineCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DedupPipeline.Result]()
  private def pipeline(spark: SparkSession): DedupPipeline.Result = {
    // evict entries of stopped sessions (releasing their persisted blocks)
    // — a long-lived JVM cycling sessions otherwise leaks both the session
    // references and the runs' persisted signature/verified blocks
    val it = pipelineCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.sparkContext.isStopped) {
        try e.getValue.cleanup() catch { case _: Throwable => () }
        it.remove()
      }
    }
    pipelineCache.computeIfAbsent(spark, s => DedupPipeline.run(s, clips(s), conf))
  }

  /** Accepted dup edges of the cached pipeline run (oracle input dumped by
    * [[graft.Verify]] for the DuckDB recursive-closure check). */
  def acceptedEdges(spark: SparkSession): DataFrame =
    pipeline(spark).edges.filter(col("accepted")).select(col("a"), col("b"))

  /** Vertex set of the cached pipeline run. */
  def vertices(spark: SparkSession): DataFrame =
    clips(spark).select(col("clip_id"))

  /** Full pipeline → (clip_id, cluster_id). */
  private def dedupClusters(spark: SparkSession): DataFrame =
    pipeline(spark).clusters
      .orderBy(col("clip_id"))

  /** Cluster-size histogram (n_clusters per size). */
  private def clusterSizes(spark: SparkSession): DataFrame =
    pipeline(spark).clusters
      .groupBy(col("cluster_id")).count()
      .withColumnRenamed("count", "cluster_size")
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** DuckDB oracle for the clustering stage: min-label transitive closure
    * over the SAME accepted-edge set the pipeline clustered (dumped to
    * `{GRAFT_OUT}/_cc_edges` + `_cc_vertices` by [[graft.Verify]], which
    * substitutes the placeholder with the absolute out dir). Labels are the
    * lexicographic min clip_id per component — exactly
    * [[graft.pipeline.Components]]' fixpoint — so this independently checks
    * the hash-min + pointer-doubling iteration end to end. */
  private val closureCte =
    """WITH RECURSIVE
      |e AS (SELECT a, b FROM read_parquet('{GRAFT_OUT}/_cc_edges/*.parquet')),
      |und AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |verts AS (SELECT clip_id FROM read_parquet('{GRAFT_OUT}/_cc_vertices/*.parquet')),
      |reach(v, lbl) AS (
      |  SELECT clip_id, clip_id FROM verts
      |  UNION
      |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.v),
      |lab AS (SELECT v AS clip_id, min(lbl) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  private val clustersDuckSql =
    s"""$closureCte
       |SELECT clip_id, cluster_id FROM lab ORDER BY clip_id""".stripMargin

  private val clusterSizesDuckSql =
    s"""$closureCte,
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** Per-clip signature stage output (decode + MinHash + SimHash kernels). */
  private def signatures(spark: SparkSession): DataFrame =
    Signatures.compute(spark, clips(spark), conf)
      .toDF()
      .select(col("clip_id"), col("simhash"), col("n_text_shingles"),
        col("n_audio_shingles"), col("decode_ok"))
      .orderBy(col("clip_id"))

  /** Decode + frame-feature stats per clip (the multimodal decode surface:
    * real WAV parse, real feature frames). */
  private def audioStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val c = conf
    clips(spark)
      .select(col("clip_id"), col("bytes"))
      .as[(String, Array[Byte])]
      .map { case (id, bytes) =>
        try {
          val dec = WavCodec.decode(bytes)
          val frames = AudioFeatures.frameTokens(dec.samples)
          val sh = AudioFeatures.shingles(dec.samples, c.audioShingleK, c.seed)
          (id, dec.srHz, dec.samples.length.toLong, frames.length.toLong, sh.length.toLong, true)
        } catch {
          case _: IllegalArgumentException => (id, -1, -1L, -1L, -1L, false)
        }
      }
      .toDF("clip_id", "sr_hz", "n_samples", "n_frames", "n_shingles", "decode_ok")
      .orderBy(col("clip_id"))
  }

  /** Audio MinHash band keys per clip (the banded multi-table build over the
    * audio shingle space). */
  private def audioBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val c = conf
    clips(spark)
      .select(col("clip_id"), col("bytes"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val mh = new MinHash(c.audioNumPerm, c.audioSeed)
        it.flatMap { case (id, bytes) =>
          try {
            val dec = WavCodec.decode(bytes)
            val sh = AudioFeatures.shingles(dec.samples, c.audioShingleK, c.seed)
            if (sh.isEmpty) Iterator.empty
            else MinHash.bandKeys(mh.signature(sh), c.audioBands, c.audioRows, c.audioSeed)
              .iterator.zipWithIndex.map { case (k, i) => (id, i.toLong, k) }
          } catch { case _: IllegalArgumentException => Iterator.empty }
        }
      }
      .toDF("clip_id", "band_idx", "band_key")
      .orderBy(col("clip_id"), col("band_idx"))
  }

  /** Per-clip quantized frame-token sequence (the kernel output of the WAV
    * decode + framing stage) — dumped by [[graft.Verify]] as the
    * `_audio_frame_tokens` oracle input. */
  def audioFrameTokensDump(spark: SparkSession): DataFrame = {
    import spark.implicits._
    clips(spark)
      .select(col("clip_id"), col("bytes"))
      .as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        try AudioFeatures.frameTokens(WavCodec.decode(bytes).samples)
          .iterator.zipWithIndex.map { case (t, i) => (id, i.toLong, t) }
        catch { case _: IllegalArgumentException => Iterator.empty }
      }
      .toDF("clip_id", "frame_idx", "token")
  }

  /** Audio shingling as a cross-engine ★ check: frame count + DISTINCT
    * k-gram count per decodable clip with ≥ 1 frame. The decode/framing
    * kernel is pinned by the `_audio_frame_tokens` dump; the DuckDB oracle
    * recomputes both counts independently (windowed list k-grams + DISTINCT
    * over list values), so a hash match verifies the shingle-set
    * construction ([[graft.kernel.Shingles.longShingles]]: `min(k, n)`-gram
    * windows, deduplicated). Caveat: this side counts distinct 64-bit
    * shingle HASHES, the oracle distinct GRAMS — equal unless the hash
    * collides (~1e-10 at this scale, and deterministic per dataset). */
  private def audioShingleCounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val c = conf
    clips(spark)
      .select(col("clip_id"), col("bytes"))
      .as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        try {
          val toks = AudioFeatures.frameTokens(WavCodec.decode(bytes).samples)
          if (toks.isEmpty) Iterator.empty
          else Iterator.single((id, toks.length.toLong,
            Shingles.longShingles(toks, c.audioShingleK, c.seed).length.toLong))
        } catch { case _: IllegalArgumentException => Iterator.empty }
      }
      .toDF("clip_id", "n_frames", "n_shingles")
      .orderBy(col("clip_id"))
  }

  private def audioShingleCountsDuckSql: String = {
    val k = conf.audioShingleK
    s"""WITH f AS (SELECT clip_id, frame_idx, token
       |  FROM read_parquet('{GRAFT_OUT}/_audio_frame_tokens/*.parquet')),
       |n AS (SELECT clip_id, count(*) AS n_frames FROM f GROUP BY 1),
       |w AS (SELECT clip_id, frame_idx,
       |    list(token) OVER (PARTITION BY clip_id ORDER BY frame_idx
       |      ROWS BETWEEN CURRENT ROW AND ${k - 1} FOLLOWING) AS gram
       |  FROM f),
       |v AS (SELECT w.clip_id, w.gram FROM w JOIN n ON w.clip_id = n.clip_id
       |  WHERE w.frame_idx <= n.n_frames - least($k, n.n_frames)),
       |s AS (SELECT clip_id, count(DISTINCT gram) AS n_shingles FROM v GROUP BY 1)
       |SELECT n.clip_id, n.n_frames, s.n_shingles
       |FROM n JOIN s ON n.clip_id = s.clip_id ORDER BY 1""".stripMargin
  }

  /** P1/P2 expanding Hamming-ball probe masks at bits=16, maxDist=2 —
    * deterministic combinatorial output WITH a DuckDB oracle (the one kernel
    * whose semantics ANSI SQL can reproduce exactly). */
  val ProbeBits = 16
  val ProbeMaxDist = 2

  private def probeMasks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Probes.ballMasks(ProbeBits, ProbeMaxDist).zipWithIndex
      .map { case (m, i) => (i.toLong, m) }
      .toSeq.toDF("ord", "mask")
      .orderBy(col("ord"))
  }

  private val probeMasksDuckSql =
    s"""WITH w0 AS (SELECT CAST(0 AS BIGINT) AS mask, 0 AS i, 0 AS j, 0 AS w),
       |w1 AS (SELECT CAST(1 AS BIGINT) << i AS mask, i, 0 AS j, 1 AS w
       |  FROM (SELECT CAST(unnest(range(0, $ProbeBits)) AS INT) AS i) t),
       |w2 AS (SELECT (CAST(1 AS BIGINT) << i) | (CAST(1 AS BIGINT) << j) AS mask, i, j, 2 AS w
       |  FROM (SELECT CAST(unnest(range(0, $ProbeBits)) AS INT) AS i) a,
       |       (SELECT CAST(unnest(range(0, $ProbeBits)) AS INT) AS j) b WHERE j > i)
       |SELECT CAST(row_number() OVER (ORDER BY w, i, j) - 1 AS BIGINT) AS ord, mask
       |FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2) u
       |ORDER BY ord""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_clusters" -> ((s, _) => dedupClusters(s)),
    "q_dedup_cluster_sizes" -> ((s, _) => clusterSizes(s)),
    "q_clip_signatures" -> ((s, _) => signatures(s)),
    "q_audio_stats" -> ((s, _) => audioStats(s)),
    "q_audio_bands" -> ((s, _) => audioBands(s)),
    "q_audio_shingle_counts" -> ((s, _) => audioShingleCounts(s)),
    "q_probe_masks" -> ((s, _) => probeMasks(s))
  )

  /** q_probe_masks is directly ANSI-SQL-expressible; the two cluster
    * queries get a recursive-closure oracle over the dumped edge list
    * (DuckDB recomputes the connected components independently). The
    * signature/audio kernels (WAV decode, seeded MinHash) stay rows-only —
    * their oracle is RefOracle in sbt test. */
  val oracleSql: Map[String, String] = Map(
    "q_probe_masks" -> probeMasksDuckSql,
    "q_dedup_clusters" -> clustersDuckSql,
    "q_dedup_cluster_sizes" -> clusterSizesDuckSql,
    "q_audio_shingle_counts" -> audioShingleCountsDuckSql
  )
}
