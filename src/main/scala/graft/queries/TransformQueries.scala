package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import CrossSql._

/** Cross-engine SQL surface for the reference's transformer/hash families
  * that ANSI SQL can express exactly, over `embeddings(vec_id,
  * embedding float[64], label)`:
  *
  *  - q_null_transform — T1 identity (`NullTransformer.h:15-39`): a
  *    positional checksum of the untransformed vector proves passthrough.
  *  - q_mean_transform — T2 subtract-mean (`MeanTransformer.h:27-49`):
  *    fit = per-dimension sums over the table, apply = `x − μ` per element.
  *    All arithmetic on a floor(1e6·x) integer grid so the per-dim mean
  *    aggregation is order-free (exact BIGINT sums; the centered value is
  *    kept as the exact rational `c·x − Σx`).
  *  - q_threshold_codes — T3 binarize-vs-mean (`ThresholdTransformer.h:27-45`)
  *    + H6 bit packing: bit_j = (x_j > mean_j) on the same integer grid,
  *    packed as Σ 2^(j−1) over the first 60 dims.
  *  - q_sikh_codes — H4 shift-invariant kernel hash
  *    (`ShiftInvariantKernelHashFunction.h:24,39-49,63-69`):
  *    bit_b = (sin(0.8 · w_bᵀx) > 0) with w the shared md5-parity ±1 matrix
  *    (engine-defined seeded family, same role as the reference's seeded
  *    Gaussian; the 0.8 factor is the reference's SIKH_CONST).
  *  - q_sparse_sign_codes — H5 sparse sign-consistent hash
  *    (`SparseSignConsistentHashFunction.h:34-70`): each bit sums a sparse
  *    md5-selected coordinate subset (P[member] = 1/32 ≈ √(d/nBits)/d) under
  *    an md5-parity sign mask; bit = (Σ ±x_j > 0).
  *
  * Fit semantics note: the reference fits transformers on a ≤30 000-point
  * sample (`HashCollection.h:41-43`); the fixture tables are far below that,
  * so the SQL fit aggregates the whole table (== the reference's sample).
  */
object TransformQueries {

  val Dim = EmbedQueries.Dim
  val ThresholdBits = 60 // packed dims 1..60 (h60 idiom: stay in 60 bits)
  val CodeBits = EmbedQueries.CodeBits

  /** floor(1e6·x) integer grid — identical in both engines (IEEE double
    * multiply then floor), making sums order-insensitive and exact. */
  private def scaled(x: String): String =
    s"CAST(floor(CAST($x AS DOUBLE) * 1000000) AS BIGINT)"

  // --- shared fit CTEs: e = exploded scaled elements, m = per-dim sums ---
  private val sparkECte =
    s"e AS (SELECT vec_id, dim, ${scaled("element_at(embedding, dim)")} AS sv FROM embeddings LATERAL VIEW explode(sequence(1, $Dim)) t AS dim)"
  private val duckECte =
    s"e AS (SELECT vec_id, CAST(dim AS INT) AS dim, ${scaled("embedding[dim]")} AS sv FROM embeddings, (SELECT unnest(range(1, ${Dim + 1})) AS dim) t)"
  private val sparkMCte =
    "m AS (SELECT dim, SUM(sv) AS s, COUNT(*) AS c FROM e GROUP BY dim)"
  private val duckMCte =
    "m AS (SELECT dim, CAST(SUM(sv) AS BIGINT) AS s, COUNT(*) AS c FROM e GROUP BY dim)"

  // --- T1 ---------------------------------------------------------------
  private val nullSparkSql =
    s"""SELECT vec_id, aggregate(sequence(1, $Dim), CAST(0 AS BIGINT), (acc, i) -> acc + i * ${scaled("element_at(embedding, i)")}) AS ident_sum
       |FROM embeddings ORDER BY vec_id""".stripMargin
  private val nullDuckSql =
    s"""SELECT vec_id, CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> i * ${scaled("embedding[i]")})) AS BIGINT) AS ident_sum
       |FROM embeddings ORDER BY vec_id""".stripMargin

  // --- T2: centered L1 mass per vector, exact rational c·x − Σx ---------
  private val meanSparkSql =
    s"""WITH $sparkECte,
       |$sparkMCte
       |SELECT e.vec_id AS vec_id, SUM(ABS(e.sv * m.c - m.s)) AS centered_l1
       |FROM e JOIN m ON e.dim = m.dim GROUP BY e.vec_id ORDER BY vec_id""".stripMargin
  private val meanDuckSql =
    s"""WITH $duckECte,
       |$duckMCte
       |SELECT e.vec_id AS vec_id, CAST(SUM(ABS(e.sv * m.c - m.s)) AS BIGINT) AS centered_l1
       |FROM e JOIN m ON e.dim = m.dim GROUP BY e.vec_id ORDER BY vec_id""".stripMargin

  // --- T3 + H6: binarize against per-dim mean, bit-pack -----------------
  private val thresholdSparkSql =
    s"""WITH $sparkECte,
       |$sparkMCte
       |SELECT e.vec_id AS vec_id,
       |  SUM(CASE WHEN e.sv * m.c > m.s THEN shiftleft(CAST(1 AS BIGINT), e.dim - 1) ELSE CAST(0 AS BIGINT) END) AS tcode
       |FROM e JOIN m ON e.dim = m.dim WHERE e.dim <= $ThresholdBits
       |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin
  private val thresholdDuckSql =
    s"""WITH $duckECte,
       |$duckMCte
       |SELECT e.vec_id AS vec_id,
       |  CAST(SUM(CASE WHEN e.sv * m.c > m.s THEN (CAST(1 AS BIGINT) << (e.dim - 1)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS tcode
       |FROM e JOIN m ON e.dim = m.dim WHERE e.dim <= $ThresholdBits
       |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin

  // --- H4: SIKH — sin of the scaled signed projection -------------------
  private val sikhSparkSql =
    s"""WITH ${sparkSgnCte("sikh", CodeBits, Dim)}
       |SELECT vec_id, CAST(${EmbedQueries.codeExpr(b => s"sin(CAST(0.8 AS DOUBLE) * ${EmbedQueries.sparkBitDot(b)})")} AS BIGINT) AS sikh_code
       |FROM embeddings CROSS JOIN sgn ORDER BY vec_id""".stripMargin
  private val sikhDuckSql =
    s"""WITH ${duckSgnCte("sikh", CodeBits, Dim)}
       |SELECT vec_id, CAST(${EmbedQueries.codeExpr(b => s"sin(CAST(0.8 AS DOUBLE) * ${EmbedQueries.duckBitDot(b)})")} AS BIGINT) AS sikh_code
       |FROM embeddings CROSS JOIN sgn ORDER BY vec_id""".stripMargin

  // --- H5: sparse sign-consistent --------------------------------------
  /** {−1, 0, +1} sparse matrix CTE: member iff h60("ss<b>_<j>") ≡ 0 mod 32
    * (low 5 bits zero), sign from bit 5 (disjoint from the membership bits). */
  private def sparkSparseCte: String = {
    val h = sparkH60("concat('ss', CAST(b AS STRING), '_', CAST(j AS STRING))")
    s"""sgn AS (SELECT transform(sequence(0, ${CodeBits - 1}), b -> transform(sequence(1, $Dim), j -> CASE WHEN ($h % 32) = 0 THEN (CASE WHEN (shiftright($h, 5) & 1) = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) ELSE CAST(0 AS DOUBLE) END)) AS m)"""
  }
  private def duckSparseCte: String = {
    val h = duckH60("concat('ss', CAST(b AS VARCHAR), '_', CAST(j AS VARCHAR))")
    s"""sgn AS (SELECT list_transform(range(0, $CodeBits), b -> list_transform(range(1, ${Dim + 1}), j -> CASE WHEN ($h % 32) = 0 THEN (CASE WHEN (($h >> 5) & 1) = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) ELSE CAST(0 AS DOUBLE) END)) AS m)"""
  }
  private val sparseSparkSql =
    s"""WITH $sparkSparseCte
       |SELECT vec_id, CAST(${EmbedQueries.codeExpr(EmbedQueries.sparkBitDot)} AS BIGINT) AS ssc_code
       |FROM embeddings CROSS JOIN sgn ORDER BY vec_id""".stripMargin
  private val sparseDuckSql =
    s"""WITH $duckSparseCte
       |SELECT vec_id, CAST(${EmbedQueries.codeExpr(EmbedQueries.duckBitDot)} AS BIGINT) AS ssc_code
       |FROM embeddings CROSS JOIN sgn ORDER BY vec_id""".stripMargin

  private def q(spark: SparkSession, dir: String, sql: String): DataFrame =
    query(spark, dir, "embeddings")(sql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_null_transform" -> ((s, d) => q(s, d, nullSparkSql)),
    "q_mean_transform" -> ((s, d) => q(s, d, meanSparkSql)),
    "q_threshold_codes" -> ((s, d) => q(s, d, thresholdSparkSql)),
    "q_sikh_codes" -> ((s, d) => q(s, d, sikhSparkSql)),
    "q_sparse_sign_codes" -> ((s, d) => q(s, d, sparseSparkSql))
  )

  val oracleSql: Map[String, String] = Map(
    "q_null_transform" -> nullDuckSql,
    "q_mean_transform" -> meanDuckSql,
    "q_threshold_codes" -> thresholdDuckSql,
    "q_sikh_codes" -> sikhDuckSql,
    "q_sparse_sign_codes" -> sparseDuckSql
  )
}
