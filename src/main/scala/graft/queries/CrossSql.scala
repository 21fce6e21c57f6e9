package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared SQL fragments for the driver's cross-engine correctness gate.
  *
  * Every `SparkEntry.queries` entry ships with `oracleSql` that DuckDB runs
  * on the same parquet tables; the driver hash-compares results. Anything
  * both engines must compute bit-identically is therefore derived from the
  * one hash family they share: `md5` of a UTF-8 string, low 60 bits parsed
  * from the first 15 hex chars (`Hashing.md5Low60` is the kernel-side
  * equivalent). This mirrors the reference's seeded-family design
  * (`/root/reference/hashFunction/RandomProjectionHashFunction.h:36-45`)
  * with "seed" = the md5 tag strings.
  *
  * Dialect pairs are kept side by side; the Spark text is what the engine
  * runs (Catalyst-planned, whole-stage codegen — array/lambda builtins, no
  * UDFs), the Duck text is the independent oracle.
  */
object CrossSql {

  /** Low-60-bit md5 → BIGINT. Spark dialect. */
  def sparkH60(x: String): String =
    s"CAST(conv(substr(md5($x),1,15),16,10) AS BIGINT)"

  /** Low-60-bit md5 → BIGINT. DuckDB dialect. */
  def duckH60(x: String): String =
    s"CAST(concat('0x', substr(md5($x),1,15)) AS BIGINT)"

  /** Tokenize-and-shingle CTE prefix (tables `toks`, `sh`) over a view
    * `documents(doc_id, text)`; k=3 word shingles, distinct per doc; docs
    * shorter than k collapse to one whole-text shingle (kernel convention,
    * [[graft.kernel.Shingles.tokenShingles]]). */
  val sparkShingleCte: String =
    """WITH toks AS (SELECT doc_id, split(trim(text), '\\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, explode(CASE WHEN size(t) < 3 THEN array(concat_ws(' ', t))
      |    ELSE transform(sequence(1, size(t)-2), i -> concat_ws(' ', slice(t, i, 3))) END) AS s
      |  FROM toks))""".stripMargin

  val duckShingleCte: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' ')) END) AS s
      |  FROM toks)""".stripMargin

  /** MinHash config shared by the SQL-surface queries (the kernel pipeline
    * has its own GraftConf): 16 permutations in 4 bands × 4 rows. */
  val NumPerm = 16
  val Bands = 4
  val Rows = 4

  /** The `mh(doc_id, perm, minhash)` CTE body over a relation `sh(doc_id, s)`:
    * h_p(doc) = min over shingles of h60(p || ':' || shingle). Exposed
    * separately so the build/query split ([[CodesCache]]) can define `sh`
    * as a materialized view with the identical downstream text. */
  def sparkMhCteBody: String =
    s"""mh AS (SELECT doc_id, CAST(p AS BIGINT) AS perm, min(${sparkH60(s"concat(CAST(p AS STRING), ':', s)")}) AS minhash
       |  FROM sh CROSS JOIN (SELECT explode(sequence(0, ${NumPerm - 1})) AS p)
       |  GROUP BY doc_id, p)""".stripMargin

  /** Adds `mh(doc_id, perm, minhash)` on top of the shingle CTE. */
  def sparkMinhashCte: String =
    s"""$sparkShingleCte,
       |$sparkMhCteBody""".stripMargin

  def duckMinhashCte: String =
    s"""$duckShingleCte,
       |mh AS (SELECT doc_id, p AS perm, min(${duckH60(s"concat(CAST(p AS VARCHAR), ':', s)")}) AS minhash
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, $NumPerm)) AS p) perms
       |  GROUP BY doc_id, p)""".stripMargin

  /** Adds `bands(doc_id, band_idx, band_key)`: band key = h60 of the band's
    * row-hashes concatenated in permutation order (reference idiom: one
    * hash table per band, SURVEY §7.0 table ↔ band). */
  /** The `bands` CTE body over a relation `mh(doc_id, perm, minhash)` —
    * see [[sparkMhCteBody]] for why the body is exposed. */
  def sparkBandsCteBody: String =
    s"""bands AS (SELECT doc_id, perm DIV $Rows AS band_idx,
       |    ${sparkH60(s"concat(CAST(perm DIV $Rows AS STRING), '|', concat_ws(',', sort_array(collect_list(concat(lpad(CAST(perm AS STRING), 2, '0'), ':', CAST(minhash AS STRING))))))")} AS band_key
       |  FROM mh GROUP BY doc_id, perm DIV $Rows)""".stripMargin

  def sparkBandsCte: String =
    s"""$sparkMinhashCte,
       |$sparkBandsCteBody""".stripMargin

  def duckBandsCte: String =
    s"""$duckMinhashCte,
       |bands AS (SELECT doc_id, perm // $Rows AS band_idx,
       |    ${duckH60(s"concat(CAST(perm // $Rows AS VARCHAR), '|', string_agg(concat(lpad(CAST(perm AS VARCHAR), 2, '0'), ':', CAST(minhash AS VARCHAR)), ',' ORDER BY perm))")} AS band_key
       |  FROM mh GROUP BY doc_id, perm // $Rows)""".stripMargin

  /** Ordered double dot product of two FLOAT[] `embedding` columns, Spark
    * dialect: a left-to-right fold over double-cast elements. [[duckDot]]
    * spells the identical reduction, so both engines compute the same
    * doubles bit for bit and their rank windows agree. */
  def sparkDot(a: String, b: String): String =
    s"aggregate(sequence(1, ${EmbedQueries.Dim}), CAST(0 AS DOUBLE), (acc, i) -> acc + CAST(element_at($a, i) AS DOUBLE) * CAST(element_at($b, i) AS DOUBLE))"

  /** [[sparkDot]] in the DuckDB dialect. */
  def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${EmbedQueries.Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** The first band, of `bands`, on which a candidate pair meets (`meets(j)`
    * is the predicate for band j; SQL NULL when it meets on none). A banded
    * equi-join yields a pair once per band it meets on, so keeping only the
    * row whose band is the pair's first band keeps each pair exactly once:
    * the `DISTINCT` over the pairs, without its shuffle. */
  def firstBand(bands: Int, meets: Int => String): String =
    (0 until bands).map(j => s"WHEN ${meets(j)} THEN $j").mkString("CASE ", " ", " END")

  /** Hoisted ±1 sign-matrix CTE `sgn(m)`: `m[b+1][j] ∈ {−1,+1}` from md5
    * parity of "<tag><b>_<j>" — the cross-engine stand-in for the reference's
    * seeded Gaussian projection rows
    * (`/root/reference/hashFunction/RandomProjectionHashFunction.h:36-45`).
    * One row, computed once and broadcast into the scan — md5 runs
    * bits×dim times TOTAL instead of bits×dim times PER ROW (the round-1
    * per-row-lambda md5 storm). */
  def sparkSgnCte(tag: String, bits: Int, dim: Int, cteName: String = "sgn"): String =
    s"""$cteName AS (SELECT transform(sequence(0, ${bits - 1}), b -> transform(sequence(1, $dim), j -> CASE WHEN (${sparkH60(s"concat('$tag', CAST(b AS STRING), '_', CAST(j AS STRING))")} & 1) = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)) AS m)"""

  def duckSgnCte(tag: String, bits: Int, dim: Int, cteName: String = "sgn"): String =
    s"""$cteName AS (SELECT list_transform(range(0, $bits), b -> list_transform(range(1, ${dim + 1}), j -> CASE WHEN (${duckH60(s"concat('$tag', CAST(b AS VARCHAR), '_', CAST(j AS VARCHAR))")} & 1) = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)) AS m)"""

  /** Register `<dir>/<table>.parquet` as a temp view named `table`. The
    * DataFrame is read once per (session, dir) ([[CodesCache.input]]), so a
    * repeated call infers no schema and lists no files; it is registered
    * again on every call because the view name is shared by all dirs a
    * session queries. Static-input contract: see [[CodesCache]]. */
  def view(spark: SparkSession, dir: String, table: String): DataFrame = {
    val df = CodesCache.input(spark, dir, table)
    df.createOrReplaceTempView(table)
    df
  }

  /** Register `dir`'s `table`, then plan the SQL. By-name: the SQL text
    * names index views that [[CodesCache.materialize]] builds from the
    * freshly registered table on first use. */
  def query(spark: SparkSession, dir: String, table: String)(mkSql: => String): DataFrame = {
    view(spark, dir, table)
    spark.sql(mkSql)
  }
}
