package graft.queries

import scala.collection.Searching

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The kNN read path's shared tail — candidate gather cap, exact cosine
  * re-rank (Q7) and per-query top-k (Q8) — on pair RDDs over the
  * materialized index views ([[CodesCache.rows]]). `q_knn_cosine`,
  * `q_ann_hamming_knn` and `q_ann_forest_knn` end here, and so do the
  * recall queries built on them.
  *
  * The reference keeps each query's result in a bounded heap
  * (`HashCollection.h:232-295`); [[Best]] is that heap, merged map-side, so
  * a query's shuffle carries at most its cap of candidates per partition.
  * As SQL each query ran its own tail (a gather-cap window, two broadcast
  * lookups, the dot-product projection, a rank window and a range sort):
  * 100 of the 196 classes a warm headline pass compiled query by query,
  * which pushed the pass past Spark's 100-entry codegen cache. RDD
  * closures compile nothing; only the scan of the result compiles, and its
  * class is the same for all three queries.
  *
  * Exactness against the DuckDB oracles: [[dot]] is [[CrossSql.sparkDot]]'s
  * left-to-right fold over double-cast elements, the norms are the views'
  * own `nrm` column, the cosine is `dot / (q.nrm * b.nrm)` as the SQL
  * spells it, and ranks order by (score DESC, id ASC) with Spark's double
  * comparison. The results are the rows the SQL tails returned, in their
  * order. A zero norm fails the query as ANSI division by zero does.
  */
private[queries] object Knn {

  /** One input vector: `(vec_id, embedding, nrm)`. */
  final case class Vec(id: Long, emb: Array[Float], nrm: Double)

  /** The vector of a view row whose first three columns are `(vec_id,
    * embedding, nrm)`; none for a null id, which no join or query filter
    * ever matched. */
  def vec(r: InternalRow): Option[Vec] =
    if (r.isNullAt(0)) None
    else {
      val id = r.getLong(0)
      val a = if (r.isNullAt(1)) null else r.getArray(1)
      require(a != null && a.numElements() >= EmbedQueries.Dim &&
        (0 until EmbedQueries.Dim).forall(!a.isNullAt(_)) && !r.isNullAt(2),
        s"vector $id: the kNN re-rank needs ${EmbedQueries.Dim} non-null embedding elements")
      Some(Vec(id, a.toFloatArray(), r.getDouble(2)))
    }

  /** [[CrossSql.sparkDot]]: the same fold, so the same double bit for bit. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < EmbedQueries.Dim) {
      acc = acc + a(i).toDouble * b(i).toDouble
      i += 1
    }
    acc
  }

  def cosine(q: Vec, b: Vec): Double = {
    val den = q.nrm * b.nrm
    if (den == 0) throw new ArithmeticException(s"[DIVIDE_BY_ZERO] cosine of vectors ${q.id} and ${b.id}")
    dot(q.emb, b.emb) / den
  }

  /** The k least distinct elements seen, in order: the bounded result heap.
    * Adding an element already held is a no-op, so a neighbour reached
    * through several tables or bands counts once. */
  final class Best[T](k: Int)(implicit ord: Ordering[T]) extends Serializable {
    private var kept = Vector.empty[T]
    def +=(x: T): this.type = {
      if (kept.size < k || ord.lt(x, kept.last)) kept.search(x) match {
        case Searching.InsertionPoint(i) => kept = ((kept.take(i) :+ x) ++ kept.drop(i)).take(k)
        case _ =>
      }
      this
    }
    def ++=(o: Best[T]): this.type = { o.kept.foreach(this += _); this }
    def toSeq: Seq[T] = kept
  }

  /** Rank order of scored neighbours `(score, id)`: score descending, then
    * id ascending; doubles compare as Spark sorts them. */
  val byScore: Ordering[(Double, Long)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b._1, a._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** Each query's candidates `(query, (hd, neighbour))`, each pair once,
    * capped at `cap` in discovery order (Hamming distance, then id): the
    * per-query retrieval budget. */
  def gather(cands: RDD[(Long, (Int, Long))], cap: Int): RDD[(Long, Seq[(Int, Long)])] =
    cands.aggregateByKey(new Best[(Int, Long)](cap))(_ += _, _ ++= _).mapValues(_.toSeq)

  /** [[topK]] of every gathered neighbour scored against its query, over
    * the vectors of `dir`'s `codes_rp` view. One lookup of the vectors by id
    * serves both sides: each query asks for its own id beside its
    * neighbours'. */
  def rerank(spark: SparkSession, dir: String, gathered: RDD[(Long, Seq[(Int, Long)])], k: Int): DataFrame = {
    val vectors = CodesCache.rows(spark, dir, EmbedQueries.codesRpView(spark, dir)).flatMap(vec)
    topK(spark, gathered.flatMap { case (q, ns) => (q +: ns.map(_._2)).map(n => (n, q)) }
      .join(vectors.map(v => (v.id, v)))
      .map { case (_, (q, v)) => (q, v) }
      .groupByKey()
      .flatMap { case (q, vs) =>
        val qv = vs.find(_.id == q).get
        vs.iterator.filter(_.id != q).map(v => (q, (cosine(qv, v), v.id)))
      }, k)
  }

  private val RankSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("rank", LongType, nullable = false), StructField("neighbor_id", LongType)))

  /** Rows `(query_id, rank, neighbor_id)`: each query's `k` best scored
    * neighbours, ordered by query and rank. A query contributes at most `k`
    * rows, so the merge and the sort run in one partition. */
  def topK(spark: SparkSession, scored: RDD[(Long, (Double, Long))], k: Int): DataFrame = {
    val rows = scored.aggregateByKey(new Best(k)(byScore), new HashPartitioner(1))(_ += _, _ ++= _)
      .mapPartitions(_.toArray.sortBy(_._1).iterator.flatMap { case (q, best) =>
        best.toSeq.iterator.zipWithIndex.map { case ((_, n), i) => InternalRow(q, i + 1L, n) }
      })
    ColumnBridge.dataFrame(spark, rows, RankSchema)
  }

  private val CandSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("neighbor_id", LongType), StructField("hd", LongType)))

  /** The gathered candidates as rows `(query_id, neighbor_id, hd)`, for
    * the recall queries' SQL. */
  def candidates(spark: SparkSession, gathered: RDD[(Long, Seq[(Int, Long)])]): DataFrame =
    ColumnBridge.dataFrame(spark, gathered.flatMap { case (q, ns) =>
      ns.map { case (hd, n) => InternalRow(q, n, hd.toLong) }
    }, CandSchema)
}
