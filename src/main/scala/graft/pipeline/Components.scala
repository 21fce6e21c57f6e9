package graft.pipeline

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Connected components over the verified-edge list: hash-min label
  * propagation (each vertex repeatedly takes the min label in its closed
  * neighborhood) with pointer doubling and per-round lineage truncation.
  *
  * The reference has no clustering stage (its queries return kNN lists);
  * dedup needs the transitive closure of dup edges. Design points for the
  * 10^12-row target:
  *
  *  - Only edge-endpoint vertices enter the iteration. Singletons (the vast
  *    majority of a deduped corpus) are attached at the end with a single
  *    left join — the loop's working set is O(|edges|), not O(|corpus|).
  *  - The loop runs on pair RDDs co-partitioned by one `HashPartitioner`,
  *    not on DataFrames. Its operators (union-find passes, min over string
  *    labels, joins, a fingerprint fold) need no optimizer, and every
  *    Catalyst plan is whole-stage code that the session's codegen cache
  *    must hold: a DataFrame loop planned each round, fingerprint, sizing
  *    scan and exit anew (57 of a checkpointed pipeline run's 122 cache
  *    keys, where Spark's cache holds 100), so every warm run recompiled
  *    ~90 classes. Only the edge read and the exit join are DataFrames.
  *  - The partition count comes from the data volume only (≈50k edge rows
  *    per partition, floor 4), never from the core count, so the same input
  *    runs the same loop at every cluster size. One job counts the edges:
  *    a bound such as the verified stage's row count, rejected rows
  *    included, can overstate them tenfold at scale.
  *  - The symmetrized edges are CONTRACTED before the loop by
  *    `ContractionPasses` = 3 per-partition union-find passes (after *BTS:
  *    Load-Balanced Distributed Union-Find*, ICDE 2024): hash-partition on
  *    `src`, run [[localRoots]] over each partition's edges, emit
  *    `(v, root)` for every local non-root `v` with root = the min
  *    `clip_id` of `v`'s local component, symmetrize. Each output edge joins
  *    two vertices connected in the input and every input edge's endpoints
  *    share a root, so components and their min labels are unchanged. The
  *    skew-capped generator's id-order chains (width 2, 200-member ad and
  *    music-only clusters) need 7 loop rounds after round 0 uncontracted,
  *    5 after one hash pass, 2 after two and 1 after three — one round is
  *    the minimum, it confirms the fixpoint, so a fourth pass cannot save a
  *    round. The rows each pass emits follow row arrival order and their
  *    set depends on the partitioning; the fixpoint, the per-component min,
  *    depends on neither. Union-find memory per task is the partition's
  *    distinct vertices (≤ 2 × its rows); a pass at most doubles its input.
  *  - The contracted list `und` is partitioned on `src` and persisted, so
  *    round 0 (min over each vertex's neighbors) is a narrow reduce and each
  *    round's message join is a narrow per-partition hash lookup into the
  *    (co-partitioned) labels.
  *  - One pointer-jump join per round (label ← label∘label) turns the
  *    chain-shaped components produced by the skew-capped pair generator
  *    into O(log d) rounds. The exit uses the converged min-aggregation
  *    itself: at the fixpoint every label is its component's min, whose own
  *    label is itself, so the jump is the identity.
  *  - Convergence is detected by an order-insensitive label fingerprint
  *    (XOR of Spark's `xxhash64(clip_id, label)` per row) over each round's
  *    min-aggregated labels, folded by the job that materializes the round.
  *    Labels only ever decrease, so fingerprint equality ⇔ the propagation
  *    fixpoint (= per-component min) up to hash cancellation: a change set
  *    whose per-row old⊕new hashes XOR to zero (probability 2^-64 per round,
  *    the single-collision case being one of them) would terminate one
  *    round early; accepted and documented.
  *  - Lineage truncation per round: reliable `checkpoint()` under
  *    `checkpointDir` (an executor loss mid-loop recovers from files —
  *    `localCheckpoint` blocks would die with the executor), else
  *    `localCheckpoint`. The previous round is unpersisted once the next is
  *    materialized, and `und` once the loop ends; in reliable mode the
  *    result reads the last round's files, in memory its blocks.
  *
  * Labels are the `clip_id` strings themselves, min in Spark's string order
  * (UTF-8 bytes), which avoids the birthday collisions of 64-bit hashed
  * labels at 10^12 rows and keeps resume byte-identical.
  */
object Components {

  /** Union-find contraction passes before the label loop (class doc). */
  val ContractionPasses = 3

  /** Where reliable-mode round checkpoints go under a pipeline's
    * `checkpointDir`; `DedupPipeline.run` deletes it once the clusters
    * stage is parquet. */
  def rddCheckpointDir(checkpointDir: String): String = s"$checkpointDir/cc-rdd"

  /** Array-based union-find over one partition's edges: `(v, root)` for
    * every vertex `v` of the edges with `v ≠ root`, each `v` once, where
    * `root` is the min `clip_id` of `v`'s component in these edges (a
    * union keeps the smaller root, so a root is always its set's min). */
  private[pipeline] def localRoots(edges: Iterator[(String, String)]): Iterator[(String, String)] = {
    val index = mutable.HashMap.empty[String, Int]
    val names = mutable.ArrayBuffer.empty[String]
    var parent = new Array[Int](1024)
    def id(v: String): Int = index.getOrElseUpdate(v, {
      val i = names.length
      names += v
      if (i == parent.length) parent = java.util.Arrays.copyOf(parent, 2 * i)
      parent(i) = i
      i
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) } // path halving
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(id(a))
      val rb = find(id(b))
      if (ra != rb) { if (names(ra) < names(rb)) parent(rb) = ra else parent(ra) = rb }
    }
    Iterator.range(0, names.length).flatMap { i =>
      val r = find(i)
      if (r == i) None else Some((names(i), names(r)))
    }
  }

  /** The lesser of two labels in Spark's string order (UTF-8 bytes, i.e.
    * code points). `String` order compares UTF-16 units, which puts a
    * surrogate pair (U+10000 and up) before U+E000..U+FFFF. */
  private[pipeline] def least(x: String, y: String): String = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x.charAt(i) == y.charAt(i)) i += 1
    if (i == n) { if (x.length <= y.length) x else y }
    else {
      var c = x.charAt(i).toInt
      var d = y.charAt(i).toInt
      if (c >= 0xd800 && d >= 0xd800) { // map both to code-point order
        c += (if (c >= 0xe000) -0x800 else 0x2000)
        d += (if (d >= 0xe000) -0x800 else 0x2000)
      }
      if (c < d) x else y
    }
  }

  /** Spark's `xxhash64(clip_id, label)` of one labeled vertex. */
  private def labelHash(v: String, label: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(label),
      XXH64.hashUTF8String(UTF8String.fromString(v), 42L))

  /** vertices: (clip_id), edges: (a, b) → (clip_id, cluster_id).
    * Singletons keep themselves as cluster_id. Without `checkpointDir` the
    * result reads the converged round's local-checkpoint blocks, which stay
    * registered until the result is garbage-collected. */
  def connectedComponents(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    components(spark, vertices, edges, maxIterations, checkpointDir)._1

  /** [[connectedComponents]] plus the release of the blocks its result
    * reads (a no-op with `checkpointDir`); after the release the result
    * cannot be read. */
  private[pipeline] def components(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int,
      checkpointDir: Option[String]): (DataFrame, () => Unit) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val reliable = checkpointDir.isDefined
    // every call: a session-wide dir set by an earlier run would collect
    // (and keep) this run's round files
    checkpointDir.foreach(d => sc.setCheckpointDir(rddCheckpointDir(d)))

    // edges are distinct unordered pairs upstream (candidates are
    // groupBy(a,b)-deduped), and min is multiset-safe anyway
    val pairs = edges.select($"a", $"b").as[(String, String)].rdd
    val p = new HashPartitioner(math.min(4096L, math.max(4L, 2L * pairs.count() / 50000L)).toInt)

    var contracted = pairs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    for (_ <- 1 to ContractionPasses)
      contracted = contracted.partitionBy(p)
        .mapPartitions(rows => localRoots(rows).flatMap { case (v, r) => Iterator((v, r), (r, v)) })
    val und = contracted.partitionBy(p).persist(StorageLevel.MEMORY_AND_DISK)

    // Persisted and marked for truncation; the fingerprint fold is the job
    // that computes it (reliable mode then writes its files from the blocks).
    def round(labels: RDD[(String, String)]): RDD[(String, String)] = {
      if (reliable) labels.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      else labels.localCheckpoint()
      labels
    }
    def fingerprint(labels: RDD[(String, String)]): Long =
      labels.map { case (v, l) => labelHash(v, l) }.fold(0L)(_ ^ _)
    // (y, label of x) for each (x, y) of `keyed`: both sides are partitioned
    // by p, so each task joins against one partition of the labels in a
    // hash map (a cogroup would buffer both sides and shuffle with Java
    // serialization)
    def lookup(keyed: RDD[(String, String)], labels: RDD[(String, String)]): RDD[(String, String)] =
      keyed.zipPartitions(labels) { (ps, ls) =>
        val label = new java.util.HashMap[String, String]()
        ls.foreach { case (v, l) => label.put(v, l) }
        ps.map { case (x, y) => (y, label.get(x)) }
      }
    // label ← label(label): the shortcut only improves (label(v) ≤ v); every
    // label is itself a labeled vertex
    def jump(m: RDD[(String, String)]): RDD[(String, String)] =
      lookup(m.map(_.swap).partitionBy(p), m).partitionBy(p)

    // Round 0, with identity initial labels: least(v, min neighbor). Every
    // endpoint is a key of the symmetrized list (contraction keeps each
    // one), so this covers the whole endpoint vertex set.
    var minned = round(und.reduceByKey(p, least _)
      .mapPartitions(_.map { case (v, m) => (v, least(v, m)) }, preservesPartitioning = true))
    var fp = fingerprint(minned)
    val verbose = sys.env.contains("GRAFT_CC_VERBOSE")
    var converged = false
    var iter = 0
    // maxIterations bounds the loop rounds; hitting it is an error, never
    // a partial labeling (confirming a fixpoint takes one round)
    while (!converged && iter < maxIterations) {
      val itT0 = System.nanoTime()
      val labels = jump(minned)
      val msgs = lookup(und, labels).reduceByKey(p, least _)
      val next = round(labels.union(msgs).reduceByKey(p, least _))
      // Convergence compares successive MIN-AGGREGATIONS: next is a
      // deterministic function of minned, so equal fingerprints ⇒ every
      // later round is identical ⇒ the fixpoint is reached.
      val nfp = fingerprint(next)
      minned.unpersist(false)
      minned = next
      converged = nfp == fp
      fp = nfp
      iter += 1
      if (verbose)
        System.err.println(f"[cc] iter=$iter wall=${(System.nanoTime() - itT0) / 1e9}%.2fs converged=$converged")
    }
    und.unpersist(false)
    if (reliable || !converged) minned.unpersist(false) // reliable: the result reads its files
    if (!converged)
      throw new IllegalStateException(
        s"connected components: no fixpoint after round $iter (maxIterations = $maxIterations)")

    (vertices.select($"clip_id")
      .join(minned.toDF("clip_id", "label"), Seq("clip_id"), "left")
      .select($"clip_id", coalesce($"label", $"clip_id").as("cluster_id")),
      () => minned.unpersist(false))
  }
}
