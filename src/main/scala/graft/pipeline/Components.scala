package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over the verified-edge list, pure DataFrame ops —
  * hash-min label propagation (each vertex repeatedly takes the min label in
  * its closed neighborhood) with pointer doubling and per-iteration lineage
  * truncation.
  *
  * The reference has no clustering stage (its queries return kNN lists);
  * dedup needs the transitive closure of dup edges. Design points for the
  * 10^12-row target:
  *
  *  - Only edge-endpoint vertices enter the iteration. Singletons (the vast
  *    majority of a deduped corpus) are attached at the end with a single
  *    left join — the loop's working set is O(|edges|), not O(|corpus|).
  *  - ONE Spark job per round: the round's min-aggregated labels are
  *    lazily local-checkpointed and the convergence fingerprint aggregate
  *    is the action that materializes them — computation, lineage
  *    truncation, caching, and convergence detection share a single job
  *    (a per-JOB latency floor is what caps local scaling efficiency; a
  *    separate fingerprint job per round doubled the loop's floor).
  *  - Convergence is detected by an order-insensitive label fingerprint
  *    (bit_xor of xxhash64(vertex, label)) over the round's min-aggregated
  *    labels. Labels only ever decrease, so fingerprint equality ⇔ the
  *    propagation fixpoint (= per-component min) up to hash cancellation:
  *    a change set whose per-row old⊕new hashes XOR to zero (probability
  *    2^-64 per round, the single-collision case being one of them) would
  *    terminate one round early; accepted and documented.
  *  - The symmetrized edges are CONTRACTED before the loop by
  *    `ContractionPasses` = 3 per-partition union-find passes (after *BTS:
  *    Load-Balanced Distributed Union-Find*, ICDE 2024): hash-repartition
  *    on `src`, run [[localRoots]] over each partition's edges, emit
  *    `(v, root)` for every local non-root `v` with root = the min
  *    `clip_id` of `v`'s local component, symmetrize. Each output edge joins
  *    two vertices connected in the input and every input edge's endpoints
  *    share a root, so components and their min labels are unchanged. The
  *    shuffles are stages of the job that materializes the edge cache: no
  *    extra jobs. The skew-capped generator's id-order chains (width 2,
  *    200-member ad and music-only clusters) need 7 loop rounds after
  *    round 0 uncontracted, 5 after one hash pass, 2 after two and 1 after
  *    three — one round is the minimum, it confirms the fixpoint, so a
  *    fourth pass cannot save a round. Range partitioning (3 rounds after
  *    one pass) costs a sampling job. The rows each pass
  *    emits follow row arrival order (vertex slots are assigned on first
  *    sight) and their set depends on the hash partitioning; the fixpoint,
  *    the per-component min, depends on neither. Union-find memory per
  *    task is the partition's distinct vertices (≤ 2 × its rows); a pass
  *    emits at most one forest edge per input row, symmetrized, so it at
  *    most doubles its input. In practice the list shrinks: 19,550 →
  *    14,218 rows on `dedup_skew_ckpt` seed 7 after two passes.
  *  - One pointer-jump join per round (label ← label∘label) turns the
  *    chain-shaped components produced by the skew-capped pair generator
  *    into O(log d) rounds. The jump is applied LAZILY on top of the
  *    cached min-aggregation (both sides of its self-join scan the cache —
  *    no recompute of the aggregation subplan, which plain exchange reuse
  *    does not dedupe across the nested self-join).
  *  - The symmetrized edge list is pre-partitioned on the join key and
  *    persisted once, so the per-round message join reshuffles only the
  *    (much smaller) label side; the edge side is a cache scan every
  *    round.
  *  - The exit joins the converged min-aggregation itself to the vertices,
  *    not its jump: at the fixpoint every label is its component's min,
  *    whose own label is itself, so the jump is the identity — and its lazy
  *    self-join would cost a broadcast job and stages of its own.
  *  - Lineage truncation per round: reliable `checkpoint()` under
  *    `checkpointDir` (an executor loss mid-loop recovers from files —
  *    `localCheckpoint` blocks would die with the executor), else lazy
  *    `localCheckpoint` materialized by the fingerprint action. The
  *    previous round's blocks are freed once the next round is
  *    materialized, so long runs don't accumulate block-manager storage.
  *  - AQE is disabled inside the loop: re-planning every tiny iterative
  *    join costs more than it saves; it is restored afterwards.
  *
  * Labels are the `clip_id` strings themselves (min = lexicographic), which
  * avoids the birthday collisions of 64-bit hashed labels at 10^12 rows
  * and keeps resume byte-identical.
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

  /** vertices: (clip_id), edges: (a, b) → (clip_id, cluster_id).
    * Singletons keep themselves as cluster_id. */
  def connectedComponents(
      spark: SparkSession,
      vertices: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    import spark.implicits._

    val aqeWas = spark.conf.getOption("spark.sql.adaptive.enabled").getOrElse("true")
    val shuffleWas = spark.conf.getOption("spark.sql.shuffle.partitions").getOrElse("200")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sc = spark.sparkContext
      val reliable = checkpointDir.isDefined
      // every call: a session-wide dir set by an earlier run would collect
      // (and keep) this run's round files
      checkpointDir.foreach(d => sc.setCheckpointDir(rddCheckpointDir(d)))
      // Reliable mode materializes eagerly (checkpoint files must exist for
      // fault recovery); local mode defers to the caller's next action —
      // here always the fingerprint aggregate — so each round is one job.
      def ckpt(df: DataFrame): DataFrame =
        if (reliable) df.checkpoint() else df.localCheckpoint(false)

      // Per-round block rotation: free the previous round's truncated-
      // lineage blocks once the current round is materialized (they can no
      // longer be referenced — each round reads only its predecessor).
      def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
      var prevRoundIds: Set[Int] = Set.empty
      def rotateBlocks(before: Set[Int]): Unit = {
        val created = persistedIds -- before
        prevRoundIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
        prevRoundIds = created
      }

      // The loop's working set is O(|edges|) — orders of magnitude smaller
      // than the corpus after endpoint restriction. Size its shuffles by its
      // own DATA volume only (≈50k rows/partition, floor 4): at test scale
      // this collapses session-default microshuffles to a handful, while
      // edge volumes large enough to be real work still spread wide. The
      // count deliberately does NOT depend on the cluster/core count — the
      // plan (partitioning included) is a property of the job, so the same
      // input produces the same loop plan at every cluster size (the
      // two-cluster-size scaling protocol compares identical plans; a
      // cores-derived term here handed the bigger cluster extra
      // tiny-partition rounds). Sized from the edge count (one cheap scan
      // of the already-materialized verify stage) BEFORE building the
      // symmetrized list, so the list can be pre-partitioned on its join
      // key in the same pass that caches it. Restored before the final
      // corpus-sized join below.
      val edgeRows = edges.count()
      val loopParts = math.min(4096L, math.max(4L, 2L * edgeRows / 50000L)).toInt
      spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)

      // edges are distinct unordered pairs upstream (candidates are
      // groupBy(a,b)-deduped), so the symmetrized list needs no distinct —
      // and min-aggregation is multiset-safe anyway. Contracted first
      // (class doc): each pass hash-partitions on src and replaces the
      // partition's edges by its union-find forest, symmetrized.
      var contracted = edges.select($"a".as("src"), $"b".as("dst"))
        .union(edges.select($"b".as("src"), $"a".as("dst")))
      for (_ <- 1 to ContractionPasses)
        contracted = contracted.repartition(loopParts, $"src").as[(String, String)]
          .mapPartitions(rows => localRoots(rows).flatMap { case (v, r) => Iterator((v, r), (r, v)) })
          .toDF("src", "dst")
      // Pre-partitioned and pre-sorted on the message-join key: the cached
      // partitioning (and, where the planner honors cached ordering, the
      // sort) satisfies the join requirement, so each round reshuffles only
      // the label side.
      val und = contracted
        .repartition(loopParts, $"src")
        .sortWithinPartitions($"src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Materialize the edge cache BEFORE the first persistedIds snapshot.
      // DataFrame.persist registers its RDD in sc.getPersistentRDDs only at
      // first materialization — deferring that to the round-0 fingerprint
      // job would make rotateBlocks count und as a round-0 ckpt block and
      // sweep it at round 1, so every round >= 2 would silently recompute
      // the whole symmetrized edge list (the design contract is one cache
      // scan per round). One extra job per CC invocation, amortized over
      // all rounds; it also keeps reliable-checkpoint mode's eager round-0
      // job from registering und inside a rotation window.
      und.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())

      def fingerprint(labels: DataFrame): Long =
        labels.agg(coalesce(expr("bit_xor(xxhash64(clip_id, label))"), lit(0L)))
          .head().getLong(0)

      // label ← label(label): the shortcut only improves (invariant
      // label(v) ≤ v). Applied lazily on top of the round's CACHED
      // min-aggregation — both join sides scan the cache.
      def jump(m: DataFrame): DataFrame =
        m.join(m.select($"clip_id".as("label"), $"label".as("ll")), Seq("label"))
          .select($"clip_id", $"ll".as("label"))

      // Iteration 1 folded into one aggregation: with identity initial
      // labels, min-over-closed-neighborhood(v) = least(v, min(neighbors)).
      // Every endpoint appears as dst of the symmetrized list (contraction
      // keeps each one: it is a non-root, or the root a non-root points
      // at), so this covers the whole endpoint vertex set without a
      // separate distinct + identity-label pass.
      var before = persistedIds
      val minned0 = ckpt(
        und.groupBy($"dst".as("clip_id")).agg(min($"src").as("m"))
          .select($"clip_id", least($"clip_id", $"m").as("label")))
      // the fingerprint action materializes the aggregation (and the und
      // cache): one job for compute + truncate + converge-check
      var fp = fingerprint(minned0)
      rotateBlocks(before)
      var labels = jump(minned0)

      var minned = minned0 // the latest round's min-aggregation
      val verbose = sys.env.contains("GRAFT_CC_VERBOSE")
      var converged = false
      var iter = 0
      // maxIterations bounds the loop rounds; hitting it is an error, never
      // a partial labeling (confirming a fixpoint takes one round)
      while (!converged && iter < maxIterations) {
        val itT0 = System.nanoTime()
        before = persistedIds
        // min label over closed neighborhood
        val msgs = und
          .join(labels.withColumnRenamed("clip_id", "src"), Seq("src"))
          .select($"dst".as("clip_id"), $"label")
        val nextMin = ckpt(
          labels.union(msgs).groupBy($"clip_id").agg(min($"label").as("label")))
        // Convergence compares successive MIN-AGGREGATIONS: nextMin is a
        // deterministic function of the previous round's minned, so equal
        // fingerprints ⇒ every later round is identical ⇒ the propagation
        // fixpoint (= per-component min) is reached. The jump stays lazy:
        // it only accelerates propagation and is identity at the fixpoint.
        val nfp = fingerprint(nextMin)
        rotateBlocks(before)
        labels = jump(nextMin)
        minned = nextMin
        converged = nfp == fp
        fp = nfp
        iter += 1
        if (verbose)
          System.err.println(f"[cc] iter=$iter wall=${(System.nanoTime() - itT0) / 1e9}%.2fs converged=$converged")
      }
      if (!converged) {
        und.unpersist(false)
        throw new IllegalStateException(
          s"connected components: no fixpoint after round $iter (maxIterations = $maxIterations)")
      }

      // restore session-scale shuffle sizing before planning the
      // corpus-sized singleton join
      spark.conf.set("spark.sql.shuffle.partitions", shuffleWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      // minned, not jump(minned): identity at the fixpoint (class doc)
      val out = vertices.select($"clip_id")
        .join(minned, Seq("clip_id"), "left")
        .select($"clip_id", coalesce($"label", $"clip_id").as("cluster_id"))
      und.unpersist(false)
      out
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.shuffle.partitions", shuffleWas)
    }
  }
}
