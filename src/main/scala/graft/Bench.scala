package graft

import graft.synth.ClipTableGen
import graft.tools.{BenchLeg, BenchReport}
import graft.tools.BenchReport.Leg
import org.apache.spark.sql.SparkSession

/** Benchmark main.
  *
  * DELIVERY CONTRACT (the part three rounds of timeouts taught us): the
  * driver harvests the LAST machine-parseable stdout line, and it may kill
  * this process at ANY moment with an external `timeout` (SIGTERM). So the
  * bench (a) prints the current best-so-far JSON line to stdout after EVERY
  * milestone — each headline query, each completed scaling leg — flagged
  * `"partial":true` until the protocol finishes; (b) registers a shutdown
  * hook that re-prints the latest line on SIGTERM; (c) SELF-BUDGETS via
  * `GRAFT_BENCH_BUDGET_SEC` (default 1800 s measured from JVM start),
  * sizing the scaling input and the rep count to what fits so the default
  * run exits 0 before an external kill ever fires; and (d) mirrors every
  * print into `GRAFT_BENCH_OUT` (default `BENCH_LOCAL.json`). A kill at
  * any point therefore leaves the most recent measurement as the last
  * parseable stdout line instead of no artifact at all.
  *
  * THE LINE IS TWO LINES (round 5): the driver keeps only a 2000-char
  * stdout TAIL, and round 4's single ~3.9 KB line (raw legs + the embedded
  * committed run) started mid-line in that window, so a measured 0.979
  * efficiency went machine-unrecorded. Rendering now lives in
  * [[graft.tools.BenchReport]]: stdout (and the SIGTERM hook) gets the
  * COMPACT line — spec-pinned ≤ 1900 chars at maximum protocol shape
  * (BenchReportSpec) — while `GRAFT_BENCH_OUT` gets the FULL line with
  * every raw leg and the committed `BENCH_FULL.json` (the best committed
  * full-protocol run, 800k clips; BASELINE.md §3) embedded verbatim. The
  * compact line references that run by filename + a 3-field summary.
  *
  * Phases (most valuable first within the budget):
  *  1. headline driver queries at `local[SPARK_GRAFT_CPUS]` on
  *     `SPARK_GRAFT_SF_DIR` (per-query seconds in "queries"; a failing
  *     query records an entry in "errors" instead of being swallowed);
  *  2. the end-to-end dedup pipeline (synth input_hint table → clusters) at
  *     two parallelism levels on IDENTICAL input — the sandbox evidence for
  *     the north rule's N vs 4N executor-cluster scaling criterion. Each
  *     leg is a child JVM PINNED to exactly N physical cores (taskset), so
  *     "N cores" means N cores — see [[graft.tools.BenchLeg]].
  *     `GRAFT_BENCH_REPS` interleaved (N, 4N) pairs, budget-gated, best-of
  *     per level. Reports clips/sec at both plus efficiency =
  *     (T_N / T_4N) / 4; target ≥ 0.8 (BASELINE.md §2);
  *  3. the CPU-parity retry: single legs of the contested level (below).
  *
  * Measurement hygiene on this SHARED host (BASELINE.md §3) is best-of plus
  * the parity retry. Co-tenant storms are invisible to loadavg and to a
  * pre-leg memory-bandwidth probe (both read normal during a measured 1.9×
  * CPU storm), and they can start mid-leg. The one signal that sees them is
  * the legs' own process CPU: both levels run identical work, so their best
  * legs' CPU must agree, and a storm only ever inflates it. When the
  * 4N / N best-leg CPU ratio leaves [[ParityLow]]..[[ParityHigh]], the
  * parent re-runs SINGLE legs of the contested level (up to
  * 2×GRAFT_BENCH_EXTRA_PAIRS of them). Every budget decision (resized n,
  * skipped reps) is recorded in the JSON's "meta" object, so a partial
  * artifact is self-describing.
  */
object Bench {

  private val headline = Seq(
    "q_exact_dedup", "q_minhash_bands", "q_lsh_pairs", "q_near_dup_pairs",
    "q_simhash_pairs", "q_substring_pairs", "q_knn_cosine", "q_ann_buckets",
    "q_ann_hamming_knn", "q_ann_forest_knn",
    "q1_agg", "q_join_agg", "q_window_latest")

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // variable-duration clips (0.2–2.0 s) skew split runtimes; finer
      // splits keep the stage tail short at higher parallelism
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** RAM-backed scratch root for the scaling legs, when the sandbox has
    * one. A real N-executor cluster reads its input from a distributed
    * store and writes shuffle/spill to N nodes' local disks — BOTH scale
    * with cluster size. The sandbox's single shared virtio disk scales
    * with neither, and its kernel I/O path burns CPU inside the pinned
    * mask (measured, 800k clips / 8 pinned cores: 1534 core-s via /tmp vs
    * 978 core-s via tmpfs, identical job), so through-disk legs measure
    * the disk artifact, not the job's CPU scaling. tmpfs restores
    * storage-bandwidth-scales-with-the-job; fall back to /tmp when shm is
    * absent or too small (the JSON records which was used). */
  private def shmRoot(nClips: Int): Option[java.io.File] = {
    val shm = new java.io.File("/dev/shm")
    val need = nClips.toLong * 30 * 1024 + (8L << 30) // input + shuffle headroom
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > need) Some(shm)
    else None
  }

  /** Synthesize the input_hint clip table once, to parquet (untimed). */
  private def materializeClips(spark: SparkSession, n: Int, base: Option[java.io.File]): String = {
    val tmp = (base match {
      case Some(root) =>
        java.nio.file.Files.createTempDirectory(root.toPath, "graft-bench-clips")
      case None =>
        java.nio.file.Files.createTempDirectory("graft-bench-clips")
    }).toFile
    graft.tools.Scratch.claim(tmp) // PID-stamp so a killed run gets swept
    val dir = tmp.toString + "/clips"
    ClipTableGen.table(spark, n).write.mode("overwrite").parquet(dir)
    dir
  }

  // Conservative per-clip planning constants (quiet r3 measurements +25 %
  // margin; used only to SIZE work to the budget, never reported). The
  // per-leg rates are for the default N = 2 and 4N = 8 levels.
  private val secPerClip2c = 4.6e-4   // measured 4.0e-4 at 800k, pinned, tmpfs
  private val secPerClip8c = 1.4e-4   // measured 1.1e-4
  private[graft] val secPerClipSynth = 2.5e-4 // 32-core synth+write to tmpfs
  private val pairOverheadSec = 110.0  // 2 child-JVM starts + warmups

  /** Planned seconds for the input synth plus one (N, 4N) pair at `n`
    * clips — sizes the scaling input to the budget before any leg ran. */
  private[graft] def scalingCost(n: Int): Double =
    n * (secPerClipSynth + secPerClip2c + secPerClip8c) + pairOverheadSec

  private def plannedLegSec(cores: Int, baseN: Int, n: Int): Double =
    n * (if (cores == baseN) secPerClip2c else secPerClip8c)

  /** Budget a further (N, 4N) pair needs: each level's slowest measured
    * leg (the planning rate until one lands), the child-JVM overhead,
    * +10 % and 30 s of margin. */
  private[graft] def pairGate(legs: Seq[Leg], baseN: Int, n: Int): Double = {
    val legSecs = Seq(baseN, 4 * baseN).map { c =>
      val v = legs.filter(_.cores == c).map(_.sec)
      if (v.nonEmpty) v.max else plannedLegSec(c, baseN, n)
    }
    (legSecs.sum + pairOverheadSec) * 1.1 + 30
  }

  /** Budget a further main pair must leave for the parity retry: one
    * [[legGate]] at the contested level, nothing while the levels agree. */
  private[graft] def retryReserve(legs: Seq[Leg], baseN: Int, n: Int): Double =
    contestedLevel(legs, baseN).fold(0.0)(legGate(legs, _, baseN, n))

  /** Budget one parity-retry leg at `cores` needs: the level's fastest
    * measured leg +20 %, plus 60 s for JVM start and warmup. */
  private[graft] def legGate(legs: Seq[Leg], cores: Int, baseN: Int, n: Int): Double = {
    val v = legs.filter(_.cores == cores).map(_.sec)
    (if (v.nonEmpty) v.min else plannedLegSec(cores, baseN, n)) * 1.2 + 60
  }

  /** The CPU-parity band (4N / N best-leg process CPU) inside which the
    * two levels count as uncontaminated. Recorded parity → efficiency
    * (BENCH_FULL.json, BASELINE.md §3): 1.000 → 0.979, 1.058 → 0.921,
    * 1.122 → 0.854, 1.141 → 0.839, while every run at ≥ 1.212 recorded
    * ≤ 0.809 and 1.17 reached 0.819 only after a retry; 2c-side storms
    * recorded 0.878 and 0.546. */
  private[graft] val ParityLow = 0.9
  private[graft] val ParityHigh = 1.15

  /** The level whose best leg is CPU-inflated, when the two levels' best
    * legs disagree beyond [[ParityLow]]..[[ParityHigh]]. The levels run
    * identical work and a storm only ever INFLATES a leg's CPU, so the
    * higher-CPU level is the contaminated one. None when they agree, when
    * a level has no CPU reading yet, or when any leg ran un-pinned. */
  private[graft] def contestedLevel(legs: Seq[Leg], baseN: Int): Option[Int] = {
    val parity = BenchReport.bestCpu(legs, 4 * baseN) / BenchReport.bestCpu(legs, baseN)
    if (!legs.forall(_.pinned) || parity.isNaN) None
    else if (parity > ParityHigh) Some(4 * baseN)
    else if (parity < ParityLow) Some(baseN)
    else None
  }

  /** The committed full-protocol run, embedded verbatim in every emitted
    * JSON under "committed_full_run" (one-line JSON object, written by this
    * same main with GRAFT_BENCH_CLIPS=800000 and a wide budget, then
    * committed to the repo as BENCH_FULL.json). Labeled by source so it can
    * never be mistaken for the live budgeted measurement. */
  private def committedFullRun(): Option[String] = {
    val path = sys.env.getOrElse("GRAFT_BENCH_FULL_JSON", "BENCH_FULL.json")
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isRegularFile(p)) None
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        // embed only if it is plausibly a single JSON object
        if (s.startsWith("{") && s.endsWith("}") && !s.contains('\n') && s.length < 16384)
          Some(s)
        else None
      }
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - tStart) / 1e9
    val startedUtc = java.time.Instant.now().toString

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // N=2 → 4N=8: this box has 32 real cores but is a shared host; the
    // 2→8 pair keeps both pinned core sets clear of external load (the
    // kernel balances outside threads onto the 24+ idle cores first), and
    // n is sized so per-row work dominates the fixed job-latency floor
    // (efficiency is meaningless on a latency-bound run at any N; the
    // floor is per-JOB, not per-row). Measured quiet-window anatomy of the
    // pinned quotient at 800k on tmpfs scratch: T2=320.3 s (cpu 618 core-s,
    // 96% busy) vs T8=89.3 s (cpu 663 core-s, 93% busy) — the loss is
    // ~1.1x task-thread CPU inflation at 8 threads (shared memory fabric;
    // a real cluster's bandwidth scales with node count) plus stage-barrier
    // wave tails, NOT GC/JIT/disk (those are pinned-leg-accounted and
    // small). See BASELINE.md §3.
    val baseN = sys.env.getOrElse("GRAFT_BENCH_BASE_CORES", "2").toInt
    // default 500k (was 800k): sized so the DEFAULT protocol — headlines +
    // 3 interleaved pinned pairs — fits the self-budget below with margin,
    // while per-row work still dominates the per-job floor (measured: the
    // per-clip CPU is flat from 400k to 800k, so the quotient at 500k
    // measures the same property as at 800k; the committed BENCH_FULL.json
    // carries the 800k full-protocol record).
    val nReq = sys.env.getOrElse("GRAFT_BENCH_CLIPS", "500000").toInt
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt
    // Self-budget (seconds from JVM start). The driver's external timeout
    // is not knowable from here (round 2's full run recorded rc=0 at a
    // 2147 s sbt total; round 3's ~40 min protocol recorded rc=124 and NO
    // artifact) — so the default finishes well inside the tightest window
    // the history is consistent with (1800 s + sbt launch < the ≥ 2200 s
    // round 2 proved exists), and every phase below checks the remaining
    // budget before starting work it could not finish.
    val budgetSec = sys.env.getOrElse("GRAFT_BENCH_BUDGET_SEC", "1800").toDouble
    def remaining: Double = budgetSec - elapsed

    // ---- milestone delivery ---------------------------------------------
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val fullRun = committedFullRun()
    @volatile var latestJson = ""
    @volatile var deliveredFinal = false
    // SIGTERM (external timeout) runs shutdown hooks: re-print the latest
    // partial line so it is the last parseable stdout line even when the
    // kill lands mid-phase. Pre-serialized — the hook does no work.
    sys.addShutdownHook {
      if (!deliveredFinal && latestJson.nonEmpty) {
        println(latestJson)
        System.out.flush()
      }
    }

    val qErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val qTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // completed scaling legs, each tagged with its input size
    val times = scala.collection.mutable.ArrayBuffer.empty[Leg]
    var nClips = nReq
    var scalingSkipped: Option[String] = None
    var pairsDone = 0
    var extraPairs = 0
    var heapPerCoreGb = 3
    var scratchKind = "disk"
    var phase = "startup"

    /** Snapshot the mutable run state for the renderers. */
    def state(partial: Boolean): BenchReport.State = BenchReport.State(
      queries = qTimes.toSeq,
      errors = qErrors.toSeq,
      legs = times.toSeq,
      baseN = baseN,
      mainClips = nClips,
      scalingSkipped = scalingSkipped,
      extraPairs = extraPairs,
      heapPerCoreGb = heapPerCoreGb,
      scratchKind = scratchKind,
      sfDir = sfDir,
      meta = BenchReport.Meta(startedUtc, elapsed, budgetSec, phase, nReq, nClips,
        reps, pairsDone,
        protocol = BenchReport.protocol(indexDir = sys.env.contains("GRAFT_INDEX_DIR"))),
      committedSource =
        fullRun.map(_ => sys.env.getOrElse("GRAFT_BENCH_FULL_JSON", "BENCH_FULL.json")),
      committedJson = fullRun,
      partial = partial)

    /** Render the current state, mirror the FULL line to the out file,
      * print the COMPACT line (≤ 1900 chars, BenchReportSpec-pinned — the
      * driver parses a 2000-char stdout tail) to stdout, remember it for
      * the SIGTERM hook. Called at every milestone: a kill at any point
      * leaves the latest state as the last parseable stdout line. */
    def emit(partial: Boolean): String = {
      val st = state(partial)
      val full = BenchReport.renderFull(st)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
      val json = BenchReport.renderCompact(st)
      latestJson = json
      if (!partial) deliveredFinal = true
      println(json)
      System.out.flush()
      json
    }

    // ---- phase 1: headline queries --------------------------------------
    phase = "headline"
    emit(partial = true) // v0: metadata + committed run, parseable immediately
    val spark1 = session(cpus)
    // untimed session warmup so the first timed query doesn't absorb
    // executor init + codegen compilation
    try SparkEntry.queries("q1_agg")(spark1, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    headline.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val t0 = System.nanoTime()
        try {
          fn(spark1, sfDir).count()
          qTimes += (name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          // a failed query records ONLY an errors entry — its time-to-failure
          // is meaningless and must not masquerade as a fast success
          qErrors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        emit(partial = true)
      }
    }

    // ---- phase 2: same job, same input, two parallelism levels ----------
    // Size the scaling phase to the remaining budget: prefer the requested
    // n, shrink if the budget cannot fit synth + one pair at it (the
    // per-clip planning constants are deliberately conservative). Below
    // minClips the per-job floor dominates the quotient (the env override
    // is a smoke-test knob, not a measurement protocol).
    phase = "scaling-synth"
    val minClips = sys.env.getOrElse("GRAFT_BENCH_MIN_CLIPS", "150000").toInt
    if (remaining < scalingCost(minClips) + 60) {
      scalingSkipped = Some(f"budget: ${remaining}%.0f s left < ${scalingCost(minClips) + 60}%.0f s for the smallest honest pair; see committed_full_run")
      System.err.println(s"[bench] ${scalingSkipped.get}")
      spark1.stop()
      emit(partial = false)
      return
    }
    while (nClips > minClips && remaining < scalingCost(nClips) + 60)
      nClips = math.max(minClips, (nClips * 0.75).toInt)
    if (nClips != nReq)
      System.err.println(f"[bench] budget ${remaining}%.0f s: resized scaling input $nReq → $nClips clips")

    // materialize the input table once (untimed), RAM-backed when possible.
    // First sweep scratch leaked by any KILLED earlier bench — tmpfs pages
    // are host RAM, and two stale 20 GiB inputs are enough to OOM this run.
    graft.tools.Scratch.sweepDefaultRoots()
    val shm = shmRoot(nClips)
    val inputDir = materializeClips(spark1, nClips, shm)
    val legLocalRoot = shm.map { root =>
      val d = java.nio.file.Files.createTempDirectory(root.toPath, "graft-bench-local")
      graft.tools.Scratch.claim(d.toFile)
      d.toString
    }
    scratchKind = if (legLocalRoot.isDefined) "tmpfs" else "disk"
    spark1.stop()
    // normal exit deletes scratch below; the hook covers SIGTERM/exceptions
    // (SIGKILL/OOM is covered by the next run's sweep via the PID stamp)
    sys.addShutdownHook {
      graft.tools.Scratch.deleteRec(new java.io.File(inputDir).getParentFile)
      legLocalRoot.foreach(d => graft.tools.Scratch.deleteRec(new java.io.File(d)))
    }

    // Each leg runs as a CHILD JVM pinned with `taskset -c 0..N-1` to
    // exactly N physical cores. A floating `local[N]` JVM is NOT an N-core
    // cluster: shuffle/IO/GC threads borrow idle host cores beside the N
    // task slots (measured process utilization 2.38 at local[2] on a quiet
    // host), overstating small-leg throughput and understating the scaling
    // quotient — the quieter the host, the worse the recorded number.
    // Pinning bounds the whole process, and the JVM sizes its thread pools
    // from the affinity mask, so this is the faithful emulation of the
    // north rule's two CLUSTER SIZES. Both legs run the identical physical
    // plan (same shuffle-partition count — the plan belongs to the job,
    // not the cluster size). Each child warms itself on a row-limited
    // untimed prefix (JIT + codegen); `reps` interleaved (N, 4N) pairs,
    // best-of per level: interleaving decorrelates an ambient-load burst
    // from one level, and min is the least-contested estimate.
    val shufflePartitions = 2 * 4 * baseN
    val warmRows = math.min(sys.env.getOrElse("GRAFT_BENCH_WARMUP_ROWS", "100000").toInt, nClips / 2)

    // per-NODE memory is fixed on a real cluster; aggregate memory scales
    // with cluster size. Giving both legs the parent's full heap would hand
    // the small "cluster" 4x the per-core memory of the big one — so each
    // child's heap is heapPerCoreGb * cores (and the JVM sizes GC from the
    // affinity mask, so GC parallelism scales with the leg too).
    heapPerCoreGb = sys.env.getOrElse("GRAFT_BENCH_HEAP_PER_CORE_GB", "3").toInt
    def pinnedLeg(cores: Int): Option[(Double, Double)] = {
      import scala.jdk.CollectionConverters._
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp") ||
          a.startsWith("-Xmx") || a.startsWith("-Xms"))
      val cmd = Seq("taskset", "-c", s"0-${cores - 1}", javaBin) ++ jvmArgs ++
        Seq(s"-Xmx${heapPerCoreGb * cores}g", "-cp", cp, "graft.tools.BenchLeg",
          cores.toString, inputDir, shufflePartitions.toString, warmRows.toString)
      try {
        val pb = new ProcessBuilder(cmd: _*)
        legLocalRoot.foreach(d => pb.environment().put("GRAFT_LEG_LOCAL_DIR", d))
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        val rc = p.waitFor()
        val parsed = "GRAFT_LEG_SECONDS=([0-9.]+)".r.findFirstMatchIn(out).map(_.group(1).toDouble)
        val cpu = "GRAFT_LEG_CPUSEC=([0-9.]+)".r.findFirstMatchIn(out).map(_.group(1).toDouble)
        if (rc != 0 || parsed.isEmpty)
          System.err.println(s"[bench] pinned leg cores=$cores rc=$rc parsed=$parsed")
        if (rc == 0) parsed.map(t => (t, cpu.getOrElse(Double.NaN))) else None
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pinned leg spawn failed: $e")
        None
      }
    }

    // in-process fallback (no taskset / child spawn failure): warm this JVM
    // once full-size, then run legs un-pinned as in earlier rounds; the
    // JSON records it machine-visibly via pinned=false
    lazy val inProcessWarmed: Unit = {
      val warm = BenchLeg.session(4 * baseN, shufflePartitions)
      BenchLeg.pipelineSecs(warm, inputDir)
      warm.stop()
    }

    /** One timed leg: pinned child JVM, else the un-pinned in-process
      * fallback, then a milestone emit. */
    def once(cores: Int): Unit = {
      val (t, cpu, pinned) = pinnedLeg(cores).map { case (t, u) => (t, u, true) }.getOrElse {
        System.err.println(s"[bench] cores=$cores falling back in-process (un-pinned)")
        inProcessWarmed
        val s = BenchLeg.session(cores, shufflePartitions)
        val t0 = BenchLeg.pipelineSecs(s, inputDir)
        s.stop()
        (t0, Double.NaN, false)
      }
      times += Leg(cores, t, cpu, pinned, nClips)
      emit(partial = true) // milestone: every completed leg updates the artifact
    }

    phase = "scaling-pairs"
    // a contaminated pair holds back the retry's budget before another pair
    def nextPairGate = pairGate(times.toSeq, baseN, nClips) + retryReserve(times.toSeq, baseN, nClips)
    while (pairsDone < reps && (pairsDone == 0 || remaining > nextPairGate)) {
      Seq(baseN, 4 * baseN).foreach(once)
      pairsDone += 1
      if (pairsDone < reps && remaining <= nextPairGate)
        System.err.println(f"[bench] budget ${remaining}%.0f s: stopping after $pairsDone of $reps pairs")
    }

    // ---- phase 3: cross-level CPU-parity retry ---------------------------
    // The retry is a SINGLE leg of the contested level, not a full pair:
    // the parity signal is CPU-based (work-invariant), so the inflated level
    // is identified unambiguously, re-running it can only improve its own
    // min (the other level's best stands untouched — no upward bias), and a
    // single leg costs ~1/4 of a pair, which is what lets the retry still
    // fit the budget a storm has already eaten into. Every leg, extra or
    // not, is published in raw_runs.
    phase = "parity-retry"
    val maxExtraLegs = 2 * sys.env.getOrElse("GRAFT_BENCH_EXTRA_PAIRS", "2").toInt
    var extraLegs = 0
    var futile = 0 // consecutive retries that did not improve the level's best CPU
    var contested = contestedLevel(times.toSeq, baseN)
    while (contested.isDefined && extraLegs < maxExtraLegs && futile < 2 &&
        remaining > legGate(times.toSeq, contested.get, baseN, nClips)) {
      val level = contested.get
      val before = BenchReport.bestCpu(times.toSeq, level)
      System.err.println(f"[bench] best-leg CPU disagrees across levels " +
        f"(${BenchReport.bestCpu(times.toSeq, baseN)}%.0f vs ${BenchReport.bestCpu(times.toSeq, 4 * baseN)}%.0f core-s) — " +
        f"extra leg at the contested level ($level cores)")
      extraLegs += 1
      extraPairs = (extraLegs + 1) / 2 // JSON continuity: retry effort in pair units
      once(level)
      // two non-improving retries in a row ⇒ the disagreement is structural
      // (tiny-n job floor) or the storm is sustained — stop spending budget
      if (BenchReport.bestCpu(times.toSeq, level) >= 0.97 * before) futile += 1 else futile = 0
      contested = contestedLevel(times.toSeq, baseN)
    }

    graft.tools.Scratch.deleteRec(
      new java.io.File(inputDir).getParentFile) // ~25 KB/clip of temp input
    legLocalRoot.foreach(d => graft.tools.Scratch.deleteRec(new java.io.File(d)))

    // final (non-partial) write + print
    phase = "done"
    emit(partial = false)
  }
}
