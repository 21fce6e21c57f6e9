package graft.queries

import graft.kernel.Probes
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import CrossSql._

/** The reference's production read path (`batchQuery`, operator Q5,
  * `/root/reference/hashIndex/HashCollection.h:232-295`) re-expressed
  * end-to-end as one relational query over `embeddings`, cross-engine
  * checkable — and, on the Spark side, executed with the reference's ACTUAL
  * query mechanism:
  *
  *   1. hash queries + base with the H1 sign-projection code (the hoisted
  *      md5-parity matrix of [[CrossSql.sparkSgnCte]]);
  *   2. candidate gather = EXECUTED MULTIPROBE: the 16-bit code is split
  *      into [[Bands]] sub-codes (H6 banding, [[graft.kernel.BitPack.bands]]
  *      semantics), each band's bucket key is probed at every XOR mask of
  *      the expanding Hamming ball [[BandProbeMasks]]
  *      ([[graft.kernel.Probes.ballMasks]] — operator P2), and probes
  *      equi-join bucket members on `(band_idx, probed_key)` — operators
  *      Q1/Q2's `bucket[hashCode ^ mask]` lookups
  *      (`/root/reference/hashIndex/StdHashIndex.h:129-157`) as a shuffled
  *      hash join instead of a pairwise theta-join. Candidates from all
  *      bands union as a set (Q4, `HashCollection.h:196-210`: each pair is
  *      kept on its first hitting band, see [[sparkGather]], a pair-RDD
  *      join; the
  *      reference accumulates per-table candidates in a round-robin
  *      interleave there — LshForestSpec's "Q4 depth-major round-robin"
  *      set-equivalence argument covers this non-forest union too, since
  *      unbudgeted per-table candidate SETS are interleave-order-invariant
  *      and the budgeted gather is truncated in the same expanding-distance
  *      order the interleave visits).
  *      Completeness: a pair within global Hamming distance [[ProbeRadius]]
  *      must agree within [[BandRadius]] on ≥1 band (pigeonhole:
  *      4 bands all differing by ≥2 ⇒ total ≥ 8 > 6), so the probe join
  *      dominates the ball and the post-join `bit_count(xor) ≤ r` filter
  *      restores exactness; the gather is truncated at the per-query
  *      retrieval budget [[GatherCap]] (the reference's early exit) in
  *      expanding-distance order;
  *   3. exact re-rank by cosine (Q7) + per-query top-k (Q8), the bounded
  *      heap of [[Knn]].
  *
  * The DuckDB oracle keeps the direct `bit_count(xor(a,b)) ≤ r` theta
  * formulation — an independent spelling of the same candidate set, so the
  * cross-engine hash compare also certifies the multiprobe plan's
  * completeness argument on real data.
  *
  * q_ann_recall then scores the ANN result against the brute-force kNN —
  * the HashError evaluation operator (O2,
  * `/root/reference/hashBitOptimizers/HashError.h:29-83`) as a query:
  * per-query hit count at k, all-integer outputs. (Its ground-truth CTE is
  * the deliberate brute-force baseline, the reference's own ground-truth
  * path `TestLSH.h:150-180`.)
  */
object AnnQueries {

  val Dim = EmbedQueries.Dim
  val TopK = 5
  val ProbeRadius = 6 // global Hamming radius over CodeBits=16
  val QueryStride = EmbedQueries.QueryStride

  /** Banding of the 16-bit code for the probe join. At production scale the
    * same plan runs with 64-bit codes in 4×16-bit bands and a per-band ball
    * of radius floor(r/4) — key cardinality 2^16 per band keeps the shuffle
    * well spread; the join/probe shape is scale-free. */
  val Bands = 4
  val BandBits: Int = EmbedQueries.CodeBits / Bands
  /** Pigeonhole per-band radius: if every band differs by more than
    * floor(ProbeRadius/Bands), the total exceeds ProbeRadius. */
  val BandRadius: Int = ProbeRadius / Bands
  /** P2 expanding-ball XOR masks actually executed in the plan. */
  val BandProbeMasks: Array[Long] = Probes.ballMasks(BandBits, BandRadius)

  /** Per-query retrieval budget on the candidate gather — the reference's
    * early exit (`StdHashIndex.h:129-157` at `:150`: stop probing once
    * enough candidates are retrieved) as a deterministic rank cap ordered
    * by (Hamming distance, id), i.e. the expanding-ball discovery order.
    * Without it a dense duplicate region floods the exact re-rank with
    * unbounded candidates — the one 100 TB hazard the uncapped plan had.
    *
    * Cross-dialect equivalence: the Spark probe join gathers a SUPERSET of
    * the Hamming ball (pigeonhole), and its `bit_count ≤ r` filter drops
    * the extras before the cap. Every extra has distance > [[ProbeRadius]],
    * strictly greater than every ball member's, so dropping them changes
    * no ball member's (distance, id) rank: both dialects cap the same
    * ranked ball. */
  val GatherCap = 128

  private def codesCte(bitDot: Int => String, normExpr: String): String =
    // per-vector norm precomputed once (identical double fold as per-pair)
    s"codes AS (SELECT vec_id, embedding, sqrt($normExpr) AS nrm, CAST(${EmbedQueries.codeExpr(bitDot)} AS BIGINT) AS code FROM embeddings CROSS JOIN sgn)"

  private val duckCodes = codesCte(EmbedQueries.duckBitDot, duckDot("embedding", "embedding"))

  private def sparkWith(spark: SparkSession, dir: String): String =
    s"codes AS (SELECT vec_id, embedding, nrm, code FROM ${EmbedQueries.codesRpView(spark, dir)})"
  private val duckWith =
    s"${duckSgnCte("rp", EmbedQueries.CodeBits, Dim)},\n$duckCodes"

  private val bandMask = (1L << BandBits) - 1

  /** The base side of the probe join: every vector's band keys and its
    * code, built once per (session, dir) ([[CodesCache]]). */
  private def bbView(spark: SparkSession, dir: String): String =
    CodesCache.materialize(spark, dir, "ann_bb",
      s"""SELECT vec_id, band_idx, shiftright(code, band_idx * $BandBits) & $bandMask AS band_key, code
         |FROM ${EmbedQueries.codesRpView(spark, dir)} LATERAL VIEW explode(sequence(0, ${Bands - 1})) tb AS band_idx""".stripMargin)

  /** The first band on which two codes differ in at most [[BandRadius]]
    * bits, given their XOR; -1 if none. */
  private def firstMeetingBand(x: Long): Int =
    (0 until Bands).find(j => java.lang.Long.bitCount((x >> (j * BandBits)) & bandMask) <= BandRadius)
      .getOrElse(-1)

  /** Spark: each query's candidates, capped (see class doc, step 2), on
    * pair RDDs over the index views.
    *
    * Probe and base rows both carry the code, so each joined row knows its
    * pair's Hamming distance `hd` without a lookup. A probe hits band j iff
    * the pair's band-j codes differ in at most [[BandRadius]] bits (the
    * masks are that whole ball), so a pair joins once per such band; only
    * the row of its first such band is kept, which leaves one row per pair
    * without a DISTINCT. The `hd ≤ r` filter runs before the [[GatherCap]]
    * cap (see there for why that is exact). */
  private def sparkGather(spark: SparkSession, dir: String): RDD[(Long, Seq[(Int, Long)])] = {
    view(spark, dir, "embeddings")
    // codes_rp rows are (vec_id, embedding, nrm, code)
    val probes = CodesCache.rows(spark, dir, EmbedQueries.codesRpView(spark, dir))
      .filter(r => !r.isNullAt(0) && r.getLong(0) % QueryStride == 0)
      .flatMap { r =>
        val (q, code) = (r.getLong(0), r.getLong(3))
        for (j <- 0 until Bands; m <- BandProbeMasks)
          yield ((j, ((code >> (j * BandBits)) & bandMask) ^ m), (q, code))
      }
    val base = CodesCache.rows(spark, dir, bbView(spark, dir)).filter(!_.isNullAt(0))
      .map(r => ((r.getInt(1), r.getLong(2)), (r.getLong(0), r.getLong(3))))
    val cands = probes.join(base).flatMap { case ((j, _), ((q, qc), (n, nc))) =>
      val hd = java.lang.Long.bitCount(qc ^ nc)
      if (q != n && hd <= ProbeRadius && firstMeetingBand(qc ^ nc) == j) Some((q, (hd, n))) else None
    }
    Knn.gather(cands, GatherCap)
  }

  private def sparkKnn(spark: SparkSession, dir: String): DataFrame =
    Knn.rerank(spark, dir, sparkGather(spark, dir), TopK)

  /** The recall queries' Spark CTEs: the query points `q`, and the kNN
    * tail's gathered candidates (`cand`) and ranks (`ranked`) read from
    * temp views of its results. */
  private def sparkTailCtes(spark: SparkSession, dir: String): String = {
    Knn.candidates(spark, sparkGather(spark, dir)).createOrReplaceTempView("ann_cand")
    sparkKnn(spark, dir).createOrReplaceTempView("ann_ranked")
    s"""q AS (SELECT * FROM codes WHERE vec_id % $QueryStride = 0),
       |cand AS (SELECT query_id, neighbor_id, hd FROM ann_cand),
       |ranked AS (SELECT query_id, neighbor_id, rank FROM ann_ranked)""".stripMargin
  }

  /** DuckDB oracle chain: the same candidate set spelled as the direct
    * Hamming predicate (independent of the probe mechanism), with the SAME
    * (distance, id)-ordered rank cap — see [[GatherCap]] for why the capped
    * sets coincide. */
  private val duckAnnCtes: String =
    s"""q AS (SELECT * FROM codes WHERE vec_id % $QueryStride = 0),
       |cand0 AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    bit_count(xor(q.code, b.code)) AS hd
       |  FROM q JOIN codes b ON q.vec_id <> b.vec_id
       |    AND bit_count(xor(q.code, b.code)) <= $ProbeRadius),
       |cand_ids AS (
       |  SELECT query_id, neighbor_id, hd FROM (
       |    SELECT c0.query_id, c0.neighbor_id, c0.hd,
       |      CAST(row_number() OVER (PARTITION BY c0.query_id
       |        ORDER BY c0.hd ASC, c0.neighbor_id ASC) AS BIGINT) AS crank
       |    FROM cand0 c0) rc
       |  WHERE crank <= $GatherCap),
       |cand AS (
       |  SELECT ci.query_id, ci.neighbor_id, ci.hd,
       |    ${duckDot("q.embedding", "b.embedding")} / (q.nrm * b.nrm) AS score
       |  FROM cand_ids ci
       |  JOIN q ON q.vec_id = ci.query_id
       |  JOIN codes b ON b.vec_id = ci.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM cand)""".stripMargin

  private def annKnnSql(withCtes: String, annCtes: String): String =
    s"""WITH $withCtes,
       |$annCtes
       |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  private val annKnnDuckSql = annKnnSql(duckWith, duckAnnCtes)

  /** O2 HashError as a query: per query point, how many of the exact top-k
    * (brute force, same tie rules as q_knn_cosine but k=TopK) the
    * multiprobe ANN recovered. The `exact` CTE is the brute-force
    * ground-truth baseline by design. */
  private def annRecallSql(withCtes: String, annCtes: String,
      dot: (String, String) => String): String =
    s"""WITH $withCtes,
       |$annCtes,
       |ann AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $TopK),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dot("q.embedding", "b.embedding")} / (q.nrm * b.nrm) DESC,
       |      b.vec_id ASC) AS BIGINT) AS rank
       |  FROM q JOIN codes b ON q.vec_id <> b.vec_id) t
       |WHERE rank <= $TopK)
       |SELECT exact.query_id AS query_id, COUNT(ann.neighbor_id) AS hits, COUNT(*) AS k
       |FROM exact LEFT JOIN ann
       |  ON ann.query_id = exact.query_id AND ann.neighbor_id = exact.neighbor_id
       |GROUP BY exact.query_id ORDER BY query_id""".stripMargin

  private val annRecallDuckSql = annRecallSql(duckWith, duckAnnCtes, duckDot)

  /** Q6 — the instrumented query (`testQuery`,
    * `/root/reference/hashIndex/HashCollection.h:153-192`): the reference
    * preserves candidate DISCOVERY ORDER so recall-vs-candidate-budget
    * curves can be computed (`TestLSH.h:186-197`). The ball probe discovers
    * buckets in expanding Hamming order (P2), so discovery rank =
    * row_number over (hamming distance, id); recall@r = exact top-k hits
    * within the first r discovered candidates, per query × budget. */
  val CurveBudgets: Seq[Int] = Seq(1, 5, 10, 20)

  private def recallCurveSql(withCtes: String, annCtes: String,
      dot: (String, String) => String, budgetsRel: String): String =
    s"""WITH $withCtes,
       |$annCtes,
       |disc AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY hd ASC, neighbor_id ASC) AS BIGINT) AS drank
       |  FROM cand),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${dot("q.embedding", "b.embedding")} / (q.nrm * b.nrm) DESC,
       |      b.vec_id ASC) AS BIGINT) AS rank
       |  FROM q JOIN codes b ON q.vec_id <> b.vec_id) t
       |WHERE rank <= $TopK),
       |budgets AS ($budgetsRel)
       |SELECT exact.query_id AS query_id, budgets.r AS r,
       |  COUNT(disc.neighbor_id) AS hits, COUNT(*) AS k
       |FROM exact CROSS JOIN budgets
       |LEFT JOIN disc ON disc.query_id = exact.query_id
       |  AND disc.neighbor_id = exact.neighbor_id AND disc.drank <= budgets.r
       |GROUP BY exact.query_id, budgets.r ORDER BY query_id, r""".stripMargin

  private val budgetsList = CurveBudgets.mkString(", ")
  private val recallCurveDuckSql = recallCurveSql(duckWith, duckAnnCtes, duckDot,
    s"SELECT CAST(unnest([$budgetsList]) AS BIGINT) AS r")

  private def q(spark: SparkSession, dir: String)(mkSql: => String): DataFrame =
    query(spark, dir, "embeddings")(mkSql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_hamming_knn" -> ((s, d) => sparkKnn(s, d)),
    "q_ann_recall" -> ((s, d) =>
      q(s, d)(annRecallSql(sparkWith(s, d), sparkTailCtes(s, d), sparkDot))),
    "q_ann_recall_curve" -> ((s, d) =>
      q(s, d)(recallCurveSql(sparkWith(s, d), sparkTailCtes(s, d), sparkDot,
        s"SELECT CAST(r AS BIGINT) AS r FROM (SELECT explode(array($budgetsList)) AS r)")))
  )

  val oracleSql: Map[String, String] = Map(
    "q_ann_hamming_knn" -> annKnnDuckSql,
    "q_ann_recall" -> annRecallDuckSql,
    "q_ann_recall_curve" -> recallCurveDuckSql
  )
}
