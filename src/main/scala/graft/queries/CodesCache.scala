package graft.queries

import graft.pipeline.Checkpoints
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Build-once state of the SQL query surface: every relation that depends
  * only on the input tables, built once per (session, input dir).
  *
  * The reference separates index BUILD from QUERY (`HashCollection.h:66-107`
  * builds the hash tables once; `batchQuery` only probes them). The pure-CTE
  * SQL form lost that split on the Spark side: Catalyst INLINES every CTE
  * reference into its consumer, so one forest-kNN plan instantiated the
  * md5 sign-matrix cross join + the interpreted higher-order-function code
  * dot products 40 times (measured via PlanDump at sf0.1 — 40 FileScans of
  * the same parquet, 5.4 s for a 5k-row table), and every execution of a
  * query re-derived its input-only relations again. This object holds both
  * halves of the build side, under one map and one lifecycle:
  *
  *  - [[input]]: the input tables as read DataFrames. Reading a parquet
  *    table infers its schema with a Spark job and lists its files; a
  *    cached DataFrame does neither again, so re-registering it under the
  *    table's view name ([[CrossSql.view]]) costs no job.
  *  - [[materialize]]: the derived index relations. Over `documents`:
  *    the shingle set (`doc_sh`) and each doc's distinct shingles as one
  *    array with its size (`doc_shsets`), minhash signatures (`doc_mh`),
  *    band keys (`doc_bands`, each row also holding all of its doc's keys
  *    in band order), simhash codes (`doc_simhash`) and band rows
  *    (`doc_sim_bands`, each with its doc's code), and the substring
  *    window and seed tables (`doc_wins`, `doc_seeds`). Over `embeddings`:
  *    the per-vector norm table (`embed_nrm`), the "rp" sign codes
  *    (`codes_rp`, read by the bucket, ANN and forest paths) and their
  *    multiprobe band keys (`ann_bb`, each with its code), and the forest's
  *    level table (`forest_lv`, each row with its vector's table-0 code
  *    and its `(t, s, pre)` bucket size). The rows carry what a candidate
  *    pair is ranked or scored on, so a warm query scans these and runs
  *    only its query-dependent part — probe joins, verification, rank
  *    windows and the final ORDER BY — and fetches a per-id attribute only
  *    for candidates past its rank cap, never to rank them. The kNN
  *    queries read the views' rows directly ([[rows]]) and run that part
  *    on pair RDDs ([[Knn]]).
  *
  * Warm-pass key budget. A warm pass of the ten LSH/ANN headline queries
  * (the `ann_queries` mix) must fit Spark's codegen cache
  * (`spark.sql.codegen.cache.maxEntries`: static, 100 entries in four
  * 25-entry LRU segments; in `local` mode the driver and the executor each
  * key a whole-stage class). A pass that overflows a segment recompiles
  * that segment's classes on every pass. On sf0.001 a pass needs 69 keys
  * (123 while the kNN queries ended in SQL re-rank tails), pinned in
  * `CodesCacheSpec`; the budget is 75, where about 15 % of JVMs overflow a
  * segment under a uniform model (5 % at 69). Count a pass's keys with the
  * test helper `CodegenKeys.keys { … }`: it empties the cache and keeps it
  * from evicting for the block, so the count is the pass's distinct keys in
  * any JVM. Every Catalyst plan added to the query path adds keys: count
  * them first.
  *
  * At production scale a materialization is the bucketed index table you
  * would write to distributed storage once per index build (operator
  * B1/B2). Two single-box analogues, selected by `GRAFT_INDEX_DIR`:
  *
  *  - default (unset): eager `localCheckpoint` — MEMORY_AND_DISK blocks
  *    with TRUNCATED lineage. **Fault model, stated plainly:** on a real
  *    cluster, losing an executor mid-session destroys that executor's
  *    blocks and, because the lineage is gone, every query over the view
  *    fails permanently (no recompute path) until the index is rebuilt in
  *    a new session. That is acceptable for the single-JVM sandbox (the
  *    "executor" dying means the whole session died) and for ephemeral
  *    benchmark sessions, NOT for long-lived production sessions.
  *  - `GRAFT_INDEX_DIR=<dir>`: the production shape — the relation is
  *    written ONCE as parquet under `<dir>/<view name>` and the view reads
  *    the files. The spill is a [[Checkpoints.stage]] keyed by the view's
  *    SQL: a spill whose manifest is missing, or whose part files no longer
  *    match the manifest's lineage, is rebuilt rather than served.
  *    Executor loss costs a re-scan of storage, never a rebuild
  *    or a dead view; the files also outlive the session, which is exactly
  *    the reference's persisted index the `saveTable` stubs never
  *    implemented (`StdHashIndex.h:189-192`). Inputs are never spilled:
  *    they already are files.
  *
  * The DuckDB oracles keep the single-statement WITH form — DuckDB
  * materializes multi-referenced CTEs on its own — so cross-engine
  * hash-match is unaffected: the view is defined by the exact same SQL
  * text the CTE previously held.
  *
  * Static-input contract: an entry is built once per (session, dir, name)
  * and never invalidated. Rewriting the parquet under `dir` mid-session
  * serves the OLD inputs and the OLD index (the cached file listing and
  * schema included), exactly as the reference's built hash tables do not
  * track mutations of the base data. Use a new session (or a new dir) for
  * new data. One session may query several dirs: index views carry a dir
  * digest in their names, and the input views (`documents`, `embeddings`,
  * ...) are re-registered from their dir's entry on every query, so a
  * cached input never serves another dir.
  */
object CodesCache {

  private final case class Entry(view: String, df: DataFrame)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** Collision-resistant tag of a view's input dir and defining SQL: 16 hex
    * chars of SHA-256. (32-bit String.hashCode collides birthday-style
    * across a few tens of thousands of dirs — and a collision would
    * silently serve one dir's index for another, since
    * createOrReplaceTempView overwrites.) */
  private def tag(dir: String, sql: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$dir\u0000$sql".getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** The parquet table `<dir>/<table>.parquet`, read once per (session,
    * dir): later calls return the same DataFrame, so its schema inference
    * and file listing run once. Not registered here — see [[CrossSql.view]]. */
  def input(spark: SparkSession, dir: String, table: String): DataFrame = {
    evictStopped()
    cache.computeIfAbsent((spark, dir, s"$table.parquet"), _ =>
      Entry(table, spark.read.parquet(s"$dir/$table.parquet"))).df
  }

  /** Temp-view name of `sql` (over `dir`'s already-registered tables),
    * materialized once per (session, dir, name, sql); later calls —
    * including from other query families in the same session — reuse the
    * view. The view name is `<name>_<tag>`, the tag a digest of the dir and
    * the SQL text: one session can hold several dirs' indexes side by side,
    * and a spill under `GRAFT_INDEX_DIR` (named like the view) is only
    * re-read by the definition that wrote it. A view whose SQL names
    * another view names its tag, so a changed definition renames every
    * view built on it too.
    *
    * Materialization is an EAGER `localCheckpoint` (or a parquet write
    * when `GRAFT_INDEX_DIR` is set — see class doc for the fault-model
    * trade), not `persist`: the code expressions are higher-order-function
    * folds whose lambda variables defeat canonicalized plan matching, so
    * the CacheManager never substitutes an InMemoryRelation for view
    * references (measured: 0 substitutions with `persist`). The checkpoint
    * truncates the view's plan to a scan of the computed blocks —
    * references CANNOT re-expand into a rebuild. */
  def materialize(spark: SparkSession, dir: String, name: String, sql: String): String = {
    evictStopped()
    val viewName = s"${name}_${tag(dir, sql)}"
    cache.computeIfAbsent((spark, dir, viewName), _ => {
      // env for deployments; -Dgraft.index.dir for in-JVM callers (tests)
      val df = sys.props.get("graft.index.dir").orElse(sys.env.get("GRAFT_INDEX_DIR")) match {
        // production spill path: a checkpointed stage, so a spill is re-read
        // only while its manifest and part files agree, else rebuilt
        case Some(root) => Checkpoints.stage(spark, Some(root), viewName, sql)(spark.sql(sql))._1
        case None => spark.sql(sql).localCheckpoint(true)
      }
      df.createOrReplaceTempView(viewName)
      Entry(viewName, df)
    }).view
  }

  /** The rows of `view`, a view [[materialize]] built for `dir`, for a
    * pair-RDD reader ([[Knn]]): the checkpointed blocks themselves, or a
    * scan of the `GRAFT_INDEX_DIR` spill. No Catalyst plan runs over the
    * blocks, so reading them compiles no class. Columns are in the view's
    * SELECT order. */
  def rows(spark: SparkSession, dir: String, view: String): RDD[InternalRow] = {
    val df = cache.get((spark, dir, view)).df
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case _ => df.queryExecution.toRdd
    }
  }

  /** Drop entries of stopped sessions (their storage blocks died with the
    * session; only the map entry leaks otherwise — same lifecycle policy
    * as ClipQueries' pipeline cache). */
  private def evictStopped(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey._1.sparkContext.isStopped) it.remove()
    }
  }
}
