package graft.pipeline

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
      if (reliable && sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(checkpointDir.get + "/cc-rdd")
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
      // and min-aggregation is multiset-safe anyway. Pre-partitioned and
      // pre-sorted on the message-join key: the cached partitioning (and,
      // where the planner honors cached ordering, the sort) satisfies the
      // join requirement, so each round reshuffles only the label side.
      val und = edges.select($"a".as("src"), $"b".as("dst"))
        .union(edges.select($"b".as("src"), $"a".as("dst")))
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
      // Every endpoint appears as dst of the symmetrized list, so this
      // covers the whole endpoint vertex set without a separate
      // distinct + identity-label pass.
      var before = persistedIds
      val minned0 = ckpt(
        und.groupBy($"dst".as("clip_id")).agg(min($"src").as("m"))
          .select($"clip_id", least($"clip_id", $"m").as("label")))
      // the fingerprint action materializes the aggregation (and the und
      // cache): one job for compute + truncate + converge-check
      var fp = fingerprint(minned0)
      rotateBlocks(before)
      var labels = jump(minned0)

      val verbose = sys.env.contains("GRAFT_CC_VERBOSE")
      var converged = false
      var iter = 0
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
        converged = nfp == fp
        fp = nfp
        iter += 1
        if (verbose)
          System.err.println(f"[cc] iter=$iter wall=${(System.nanoTime() - itT0) / 1e9}%.2fs converged=$converged")
      }

      // restore session-scale shuffle sizing before planning the
      // corpus-sized singleton join
      spark.conf.set("spark.sql.shuffle.partitions", shuffleWas)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      val out = vertices.select($"clip_id")
        .join(labels, Seq("clip_id"), "left")
        .select($"clip_id", coalesce($"label", $"clip_id").as("cluster_id"))
      und.unpersist(false)
      out
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.shuffle.partitions", shuffleWas)
    }
  }
}
