package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import CrossSql._

/** Embedding-family queries over `embeddings(vec_id, embedding float[64],
  * label)` — the dense-vector half of the reference re-expressed relationally:
  *
  *  - q_knn_cosine / q_knn_l2: the reference's `batchQuery` public API
  *    (operator Q5, `/root/reference/hashIndex/HashCollection.h:232-295`):
  *    query set × base set, exact distance (Q7), per-query top-k (Q8: on
  *    Spark, cosine keeps the reference's bounded heap, [[Knn]]; L2 and the
  *    oracles use a rank window).
  *  - q_ann_codes: H1 RandomProjection sign codes (SimHash over the dense
  *    space, `/root/reference/hashFunction/RandomProjectionHashFunction.h:47-53`)
  *    with a cross-engine ±1 projection derived from md5 parity — the
  *    SQL-checkable analogue of the seeded Gaussian kernel.
  *  - q_ann_buckets: B1 bucket directory (code → member count) as a groupBy.
  *
  * Float determinism contract: every dot product is computed as an ordered
  * left-to-right fold over double-cast elements — both dialects spell the
  * identical reduction, so doubles match bit-for-bit and rank windows agree.
  */
object EmbedQueries {

  final val Dim = 64
  val TopK = 10
  val QueryStride = 25 // vec_id % stride == 0 → query point
  val CodeBits = 16

  /** Top-k neighbours of every query point over `base(vec_id, embedding[,
    * nrm])`, defined by `baseSql`. */
  private def knnSql(baseSql: String, scoreOf: String, asc: Boolean): String = {
    val ord = if (asc) "ASC" else "DESC"
    s"""WITH base AS ($baseSql),
       |q AS (SELECT * FROM base WHERE vec_id % $QueryStride = 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, $scoreOf AS score
       |  FROM q JOIN base b ON q.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score $ord, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  private val rawBase = "SELECT vec_id, embedding FROM embeddings"

  /** Cosine kNN over a `base` that carries each vector's norm `nrm`: one
    * sqrt of the same ordered double fold per vector, the identical value
    * to recomputing it per pair at 1/|B| the cost. The DuckDB oracle; the
    * Spark side is [[knnCosine]]. */
  private def cosSql(baseSql: String, dot: (String, String) => String): String =
    knnSql(baseSql, s"${dot("q.embedding", "b.embedding")} / (q.nrm * b.nrm)", asc = false)

  private val knnCosDuckSql = cosSql(
    s"SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings", duckDot)

  private def sparkDist2(a: String, b: String): String =
    s"aggregate(sequence(1, $Dim), CAST(0 AS DOUBLE), (acc, i) -> acc + (CAST(element_at($a, i) AS DOUBLE) - CAST(element_at($b, i) AS DOUBLE)) * (CAST(element_at($a, i) AS DOUBLE) - CAST(element_at($b, i) AS DOUBLE)))"
  private def duckDist2(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  private val knnL2SparkSql = knnSql(rawBase, sparkDist2("q.embedding", "b.embedding"), asc = true)
  private val knnL2DuckSql = knnSql(rawBase, duckDist2("q.embedding", "b.embedding"), asc = true)

  private val normsDuckSql =
    s"""SELECT vec_id, CAST(floor(1000000 * sqrt(${duckDot("embedding", "embedding")})) AS BIGINT) AS norm_x1e6
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Signed projection of row b against the hoisted sign matrix `m`
    * ([[CrossSql.sparkSgnCte]], tag "rp"): the H1 bit dot product as an
    * ordered fold — identical values to deriving each ±1 inline, but the
    * md5 family is evaluated once per query instead of once per row. */
  private[queries] def sparkBitDot(b: Int): String =
    s"aggregate(sequence(1, $Dim), CAST(0 AS DOUBLE), (acc, i) -> acc + element_at(element_at(m, ${b + 1}), i) * CAST(element_at(embedding, i) AS DOUBLE))"
  private[queries] def duckBitDot(b: Int): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> m[${b + 1}][i] * CAST(embedding[i] AS DOUBLE)))"

  /** H6 bit packing of the CodeBits sign bits as a SQL sum of powers of 2. */
  private[queries] def codeExpr(dotTerm: Int => String): String =
    (0 until CodeBits)
      .map(b => s"CASE WHEN ${dotTerm(b)} > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")

  private val annCodesDuckSql =
    s"""WITH ${duckSgnCte("rp", CodeBits, Dim)}
       |SELECT vec_id, CAST(${codeExpr(duckBitDot)} AS BIGINT) AS code
       |FROM embeddings CROSS JOIN sgn ORDER BY vec_id""".stripMargin

  private def annBucketsSql(withCtes: String): String =
    s"""WITH $withCtes
       |SELECT code, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
       |FROM codes GROUP BY code ORDER BY code""".stripMargin

  private val annBucketsDuckSql = annBucketsSql(
    s"""${duckSgnCte("rp", CodeBits, Dim)},
       |codes AS (SELECT vec_id, CAST(${codeExpr(duckBitDot)} AS BIGINT) AS code FROM embeddings CROSS JOIN sgn)""".stripMargin)

  // ------------------------------------------------------------------
  // build/query split (see CodesCache): the norm table and the "rp" code
  // table are input-only, so each is materialized once per (session, dir).
  // The codes read the norm table, and carry its columns for the ANN
  // re-rank; the forest's table 0 is the same projection.
  // ------------------------------------------------------------------

  /** View of `(vec_id, embedding, nrm)`: the input vectors and their norms. */
  private[queries] def nrmView(spark: SparkSession, dir: String): String =
    CodesCache.materialize(spark, dir, "embed_nrm",
      s"SELECT vec_id, embedding, sqrt(${sparkDot("embedding", "embedding")}) AS nrm FROM embeddings")

  /** View of `(vec_id, embedding, nrm, code)`: the H1 sign code of every
    * vector under the "rp" matrix ([[CrossSql.sparkSgnCte]]). */
  private[queries] def codesRpView(spark: SparkSession, dir: String): String =
    CodesCache.materialize(spark, dir, "codes_rp",
      s"""WITH ${sparkSgnCte("rp", CodeBits, Dim)}
         |SELECT vec_id, embedding, nrm, CAST(${codeExpr(sparkBitDot)} AS BIGINT) AS code
         |FROM ${nrmView(spark, dir)} CROSS JOIN sgn""".stripMargin)

  /** Exact cosine top-k on Spark, over the norms of [[nrmView]]: every
    * query point against every other vector, each query's top-k merged
    * per base partition ([[Knn.topK]]). A partition's query points travel
    * as one array, so the base is read once per query partition. */
  private def knnCosine(spark: SparkSession, dir: String, k: Int): DataFrame = {
    view(spark, dir, "embeddings")
    val vecs = CodesCache.rows(spark, dir, nrmView(spark, dir)).flatMap(Knn.vec)
    val qs = vecs.filter(_.id % QueryStride == 0).glom()
    Knn.topK(spark, qs.cartesian(vecs).flatMap { case (qa, b) =>
      qa.iterator.filter(_.id != b.id).map(q => (q.id, (Knn.cosine(q, b), b.id)))
    }, k)
  }

  private def q(spark: SparkSession, dir: String)(mkSql: => String): DataFrame =
    query(spark, dir, "embeddings")(mkSql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_norms" -> ((s, d) => q(s, d)(
      s"""SELECT vec_id, CAST(floor(1000000 * nrm) AS BIGINT) AS norm_x1e6
         |FROM ${nrmView(s, d)} ORDER BY vec_id""".stripMargin)),
    "q_knn_cosine" -> ((s, d) => knnCosine(s, d, TopK)),
    "q_knn_l2" -> ((s, d) => q(s, d)(knnL2SparkSql)),
    "q_ann_codes" -> ((s, d) => q(s, d)(
      s"SELECT vec_id, code FROM ${codesRpView(s, d)} ORDER BY vec_id")),
    "q_ann_buckets" -> ((s, d) => q(s, d)(
      annBucketsSql(s"codes AS (SELECT vec_id, code FROM ${codesRpView(s, d)})")))
  )

  val oracleSql: Map[String, String] = Map(
    "q_embed_norms" -> normsDuckSql,
    "q_knn_cosine" -> knnCosDuckSql,
    "q_knn_l2" -> knnL2DuckSql,
    "q_ann_codes" -> annCodesDuckSql,
    "q_ann_buckets" -> annBucketsDuckSql
  )
}
