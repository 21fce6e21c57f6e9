package graft

import graft.synth.ClipTableGen
import graft.tools.{BenchLeg, BenchReport}
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
  *  1.5 an EARLY scaling pair at the smallest honest input (150k clips):
  *     one pinned (N, 4N) pair lands a measured scaling_efficiency on the
  *     record ~5 min from JVM start — inside even round 3's ~6-7 min kill
  *     window — labeled `"early":true` + its own n_clips, superseded in
  *     dedup_scaling by the first full-size pair (raw_runs keeps every
  *     leg, each tagged with its input size);
  *  2. the end-to-end dedup pipeline (synth input_hint table → clusters) at
  *     two parallelism levels on IDENTICAL input — the sandbox evidence for
  *     the north rule's N vs 4N executor-cluster scaling criterion. Each
  *     leg is a child JVM PINNED to exactly N physical cores (taskset), so
  *     "N cores" means N cores — see [[graft.tools.BenchLeg]]. Reports
  *     clips/sec at both plus efficiency = (T_N / T_4N) / 4; target ≥ 0.8
  *     (BASELINE.md §2).
  *
  * Measurement hygiene on this SHARED host (BASELINE.md §3):
  * GRAFT_BENCH_REPS interleaved (N, 4N) leg pairs with best-of per level,
  * and a bounded wait for ambient load < 3 + a quiet memory-fabric probe
  * before every timed leg (GRAFT_BENCH_LOADWAIT seconds max, 0 disables) —
  * legs measured into an external load burst are pure noise, and the raw
  * interleaved legs are published in the JSON for spread transparency.
  * Because co-tenant storms are invisible to loadavg and can start
  * mid-leg, the parent additionally cross-checks the two levels' best-leg
  * process CPU (identical work ⇒ CPU parity up to the ~1.1 quiet fabric
  * inflation) and, when they disagree > 1.25×, re-runs SINGLE legs of the
  * contested level (up to 2×GRAFT_BENCH_EXTRA_PAIRS of them) — recording
  * the host's weather as the job's scaling is the one failure mode
  * best-of alone cannot always absorb, and a single-leg retry is cheap
  * enough to fit the budget a storm has already eaten into. Every budget
  * decision (resized n, skipped reps) is recorded in the JSON's "meta"
  * object, so a partial artifact is self-describing.
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

  private def readLoad(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => 0.0 }

  /** One-thread memory-streaming micro-probe (~0.5 s quiet): XOR-folds a
    * 64 MiB array a few times and reports the wall seconds. The shared
    * host's co-tenant pressure lands on the memory fabric, where neither
    * loadavg nor steal time sees it (measured: identical pinned 800k legs
    * spanned 134–248 s across windows with loadavg < 3 and ~0 steal the
    * whole time) — but a bandwidth-bound probe slows down with it. */
  private val probeArr = new Array[Long](8 * 1024 * 1024)
  private def memProbeSec(): Double = {
    val t0 = System.nanoTime()
    var pass = 0
    var acc = 0L
    while (pass < 4) {
      var i = 0
      while (i < probeArr.length) { acc ^= probeArr(i) + i; i += 1 }
      pass += 1
    }
    if (acc == 42L) System.err.print("") // keep the fold observable
    (System.nanoTime() - t0) / 1e9
  }

  /** Bounded wait for a quiet window before a timed leg: ambient load low
    * AND the memory-fabric probe within 20% of the best this run has seen.
    * Falls through after maxWaitSec — legs can still land in noise; the
    * interleaved best-of across reps is the backstop. */
  private var probeBest = Double.MaxValue
  /** Returns the last probe reading (recorded per leg in the JSON so a
    * stormy leg is visible next to its wall time). */
  private def waitQuiet(maxWaitSec: Int): Double = {
    if (probeBest == Double.MaxValue) memProbeSec() // discard the JIT-cold first call
    if (maxWaitSec <= 0) return memProbeSec()
    val t0 = System.nanoTime()
    var p = memProbeSec()
    probeBest = math.min(probeBest, p)
    while ((readLoad() > 3.0 || p > 1.2 * probeBest) &&
        (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      Thread.sleep(10000)
      p = memProbeSec()
      probeBest = math.min(probeBest, p)
    }
    p
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
    val loadWait = sys.env.getOrElse("GRAFT_BENCH_LOADWAIT", "120").toInt
    // Self-budget (seconds from JVM start). The driver's external timeout
    // is not knowable from here (round 2's full run recorded rc=0 at a
    // 2147 s sbt total; round 3's ~40 min protocol recorded rc=124 and NO
    // artifact) — so the default finishes well inside the tightest window
    // the history is consistent with (1800 s + sbt launch < the ≥ 2200 s
    // round 2 proved exists), and every phase below checks the remaining
    // budget before starting work it could not finish.
    val budgetSec = sys.env.getOrElse("GRAFT_BENCH_BUDGET_SEC", "1800").toDouble
    def remaining: Double = budgetSec - elapsed

    // conservative per-clip planning constants (quiet r3 measurements +25%
    // margin; used only to SIZE work to the budget, never reported):
    val secPerClip2c = 4.6e-4  // measured 4.0e-4 at 800k, pinned, tmpfs
    val secPerClip8c = 1.4e-4  // measured 1.1e-4
    val secPerClipSynth = 2.5e-4 // 32-core synth+write to tmpfs
    val pairOverheadSec = 110.0  // 2 child-JVM starts + warmups + probes

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
    // completed scaling legs — each carries its own input size AND an
    // explicit early flag (the EARLY pair runs smaller and under a weaker
    // protocol than the main pairs; a quotient must never mix phases, even
    // if budget resizing makes the two input sizes coincide)
    val times = scala.collection.mutable.ArrayBuffer.empty[BenchReport.Leg]
    var nClips = nReq
    var earlyN = 0 // early-pair input size, 0 = none ran
    var scalingSkipped: Option[String] = None
    var extraPairs = 0
    var heapPerCoreGb = 3
    var scratchKind = "disk"
    var phase = "startup"

    def bestCpu(c: Int, early: Boolean): Double = BenchReport.bestCpu(times.toSeq, c, early)

    /** Snapshot the mutable run state for the renderers. */
    def state(partial: Boolean): BenchReport.State = BenchReport.State(
      queries = qTimes.toSeq,
      errors = qErrors.toSeq,
      legs = times.toSeq,
      baseN = baseN,
      mainClips = nClips,
      earlyClips = earlyN,
      scalingSkipped = scalingSkipped,
      extraPairs = extraPairs,
      heapPerCoreGb = heapPerCoreGb,
      scratchKind = scratchKind,
      sfDir = sfDir,
      meta = BenchReport.Meta(startedUtc, elapsed, budgetSec, phase, nReq, nClips,
        earlyN, reps, pairsDone = times.count(!_.early) / 2,
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

    // ---- scaling-leg machinery (shared by the early and main pairs) -----
    def scalingCost(n: Int): Double =
      n * secPerClipSynth + n * (secPerClip2c + secPerClip8c) + pairOverheadSec
    // below this the per-job floor dominates the quotient (env override is
    // a smoke-test knob, not a measurement protocol)
    val minClips = sys.env.getOrElse("GRAFT_BENCH_MIN_CLIPS", "150000").toInt

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

    // per-NODE memory is fixed on a real cluster; aggregate memory scales
    // with cluster size. Giving both legs the parent's full heap would hand
    // the small "cluster" 4x the per-core memory of the big one — so each
    // child's heap is heapPerCoreGb * cores (and the JVM sizes GC from the
    // affinity mask, so GC parallelism scales with the leg too).
    heapPerCoreGb = sys.env.getOrElse("GRAFT_BENCH_HEAP_PER_CORE_GB", "3").toInt
    def pinnedLeg(cores: Int, dir: String, localRoot: Option[String],
        warmRows: Int): Option[(Double, Double)] = {
      import scala.jdk.CollectionConverters._
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp") ||
          a.startsWith("-Xmx") || a.startsWith("-Xms"))
      val cmd = Seq("taskset", "-c", s"0-${cores - 1}", javaBin) ++ jvmArgs ++
        Seq(s"-Xmx${heapPerCoreGb * cores}g", "-cp", cp, "graft.tools.BenchLeg",
          cores.toString, dir, shufflePartitions.toString, warmRows.toString)
      try {
        val pb = new ProcessBuilder(cmd: _*)
        localRoot.foreach(d => pb.environment().put("GRAFT_LEG_LOCAL_DIR", d))
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

    /** One timed leg on `dir` (n clips): quiet-window wait, pinned child
      * JVM, optional un-pinned in-process fallback, milestone emit.
      * `isEarly` tags the leg's phase explicitly — quotients and parity are
      * keyed on the flag, never on the input size (which budget resizing
      * can make coincide across phases). */
    def once(cores: Int, dir: String, localRoot: Option[String], n: Int,
        maxWait: Int, fallback: Option[() => Unit], warmCap: Int = Int.MaxValue,
        isEarly: Boolean = false): Unit = {
      val probe = waitQuiet(maxWait)
      val warmRows = math.min(math.min(warmCap,
        sys.env.getOrElse("GRAFT_BENCH_WARMUP_ROWS", "100000").toInt), n / 2)
      val leg = pinnedLeg(cores, dir, localRoot, warmRows).map { case (t, u) => (t, u, true) }
        .orElse(fallback.map { warm =>
          System.err.println(s"[bench] cores=$cores falling back in-process (un-pinned)")
          warm()
          val s = BenchLeg.session(cores, shufflePartitions)
          val t0 = BenchLeg.pipelineSecs(s, dir)
          s.stop()
          (t0, Double.NaN, false)
        })
      leg match {
        case Some((t, cpu, pinned)) =>
          times += BenchReport.Leg(cores, t, probe, cpu, pinned, n, isEarly)
          emit(partial = true) // milestone: every completed leg updates the artifact
        case None =>
          System.err.println(s"[bench] cores=$cores n=$n: leg skipped (no pinned run, no fallback)")
      }
    }

    // ---- phase 1.5: EARLY scaling pair -----------------------------------
    // The driver's external kill window is unknowable from here (round 3's
    // fired ~6-7 min in — before a full-size pair could possibly land). So
    // before the main synth, run ONE pinned (N, 4N) pair on the smallest
    // honest input: a measured scaling efficiency is on the record ~5 min
    // from JVM start, labeled with its own n_clips + "early":true, and the
    // main-size pairs supersede it in dedup_scaling the moment both levels
    // land (raw_runs keeps the early legs, each tagged n_clips). Skipped
    // when the requested run is itself small (the first main pair IS the
    // early pair then) or the budget cannot fit the extra pair.
    phase = "early-pair"
    if (nReq > 2 * minClips && remaining > scalingCost(minClips) + 60) {
      earlyN = minClips
      graft.tools.Scratch.sweepDefaultRoots()
      val shmE = shmRoot(earlyN)
      val earlyDir = materializeClips(spark1, earlyN, shmE)
      val earlyLocalRoot = shmE.map { root =>
        val d = java.nio.file.Files.createTempDirectory(root.toPath, "graft-bench-local")
        graft.tools.Scratch.claim(d.toFile)
        d.toString
      }
      scratchKind = if (earlyLocalRoot.isDefined) "tmpfs" else "disk"
      // tmpfs scratch is host RAM: free it even when a SIGTERM or an
      // exception lands mid-phase (normal path frees it in the same
      // finally; the PID-stamped sweep covers SIGKILL/OOM)
      val earlyCleanup = new Thread(() => {
        graft.tools.Scratch.deleteRec(new java.io.File(earlyDir).getParentFile)
        earlyLocalRoot.foreach(d => graft.tools.Scratch.deleteRec(new java.io.File(d)))
      })
      Runtime.getRuntime.addShutdownHook(earlyCleanup)
      try {
        // short quiet-wait cap: the early pair's whole point is landing
        // before an unknown kill; the main pairs re-measure under the full
        // hygiene protocol and replace it
        val earlyWait = math.min(loadWait, 45)
        // 30k-row warmup cap: enough input to JIT the hot loops, not the 100k
        // default (2/3 of the early input untimed would push the early
        // quotient past the very kill window it exists to beat)
        Seq(baseN, 4 * baseN).foreach(c =>
          once(c, earlyDir, earlyLocalRoot, earlyN, earlyWait, fallback = None,
            warmCap = 30000, isEarly = true))
        // Cheap single-leg retries when the early pair's own CPU parity says
        // a storm hit one level (identical work ⇒ CPU parity ≈ the ~1.1
        // quiet fabric inflation; a storm only ever INFLATES a leg's CPU).
        // The full hygiene protocol runs only at the main size — but if the
        // driver's kill lands before the first main pair, the early quotient
        // IS the recorded one, so don't leave it storm-shaped when ~60 s
        // fixes it. Gated so the main phase still fits the budget.
        def earlyParity: Double = bestCpu(4 * baseN, early = true) / bestCpu(baseN, early = true)
        var earlyRetries = 0
        while (earlyRetries < 2 && !earlyParity.isNaN &&
            (earlyParity > 1.25 || earlyParity < 0.8) &&
            remaining > scalingCost(minClips) + 160) {
          val level = if (earlyParity > 1.25) 4 * baseN else baseN
          System.err.println(f"[bench] early-pair CPU parity $earlyParity%.2f — one retry at cores=$level")
          earlyRetries += 1
          once(level, earlyDir, earlyLocalRoot, earlyN, earlyWait, fallback = None,
            warmCap = 30000, isEarly = true)
        }
      } finally {
        // free the early scratch immediately — the main input needs the room
        earlyCleanup.run()
        try Runtime.getRuntime.removeShutdownHook(earlyCleanup)
        catch { case _: IllegalStateException => } // already shutting down
      }
    }

    // ---- phase 2: same job, same input, two parallelism levels ----------
    // Size the scaling phase to the remaining budget: prefer the requested
    // n, shrink if the budget cannot fit synth + one pair at it (the
    // per-clip planning constants above are deliberately conservative).
    phase = "scaling-synth"
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

    // in-process fallback (no taskset / child spawn failure): warm this JVM
    // once full-size, then run legs un-pinned as in earlier rounds. Only
    // the MAIN pairs get the fallback — an early-pair spawn failure just
    // skips the early leg (the same failure would hit the main legs too,
    // and their fallback records it machine-visibly via pinned=false).
    lazy val inProcessWarmed: Unit = {
      val warm = BenchLeg.session(4 * baseN, shufflePartitions)
      BenchLeg.pipelineSecs(warm, inputDir)
      warm.stop()
    }
    def runPair(): Unit = Seq(baseN, 4 * baseN).foreach(c =>
      once(c, inputDir, legLocalRoot, nClips, loadWait, fallback = Some(() => inProcessWarmed)))

    // measured cost of one MAIN-size pair, for budget gating of later pairs
    // (seeded from the early pair's measured per-clip rate when it exists,
    // else from the planning constants, until the first main pair lands)
    def measuredPairCost: Double = {
      val byLevel = Seq(baseN, 4 * baseN).map { c =>
        val v = times.filter(l => l.cores == c && !l.early).map(_.sec)
        if (v.nonEmpty) v.max
        else {
          val e = times.filter(l => l.cores == c && l.early).map(_.sec)
          if (earlyN > 0 && e.nonEmpty) e.min / earlyN * nClips * 1.25
          else nClips * (if (c == baseN) secPerClip2c else secPerClip8c)
        }
      }
      byLevel.sum + pairOverheadSec
    }

    phase = "scaling-pairs"
    // a pair's true cost includes up to 2 bounded quiet-window waits
    def pairGate: Double = measuredPairCost * 1.1 + 2.0 * loadWait + 30
    var pairsDone = 0
    while (pairsDone < reps && (pairsDone == 0 || remaining > pairGate)) {
      runPair()
      pairsDone += 1
      if (pairsDone < reps && remaining <= pairGate)
        System.err.println(f"[bench] budget ${remaining}%.0f s: stopping after $pairsDone of $reps pairs")
    }

    // Cross-level storm check: the two levels run IDENTICAL work, so their
    // best legs' process CPU must agree up to the measured quiet memory-
    // fabric inflation (8c/2c ≈ 1.1) — co-tenant pressure only ever
    // INFLATES a leg's CPU. If the best legs disagree beyond 1.25×, the
    // higher-CPU level's reps all landed in storms (observed: 2 of 3 8-core
    // legs at cpu 1056/871 core-s vs a quiet 663 in one run); retry rather
    // than record the host's weather as the job's scaling. The retry is a
    // SINGLE leg of the contested level, not a full pair: the parity signal
    // is CPU-based (work-invariant), so the level whose best-leg CPU is
    // inflated is identified unambiguously, re-running it can only improve
    // its own min (the other level's best stands untouched — no upward
    // bias), and a single leg costs ~1/4 of a pair, which is what lets the
    // retry still fit the budget that remains after the planned pairs (a
    // full-pair retry was exactly the step the default budget could never
    // afford once a storm had already slowed the planned legs). Every leg,
    // extra or not, is published in raw_runs.
    phase = "parity-retry"
    // parity is judged on the MAIN-size legs only (identical work); the
    // early pair is superseded by then and never retried
    val maxExtraLegs = 2 * sys.env.getOrElse("GRAFT_BENCH_EXTRA_PAIRS", "2").toInt
    def parityRatio: Double = bestCpu(4 * baseN, early = false) / bestCpu(baseN, early = false)
    def cpuAgree: Boolean = {
      val r = parityRatio
      r.isNaN || (r < 1.25 && r > 0.8)
    }
    def contestedLevel: Int = if (parityRatio > 1.25) 4 * baseN else baseN
    def legGate(cores: Int): Double = {
      val v = times.filter(l => l.cores == cores && !l.early).map(_.sec)
      val est = if (v.isEmpty) nClips * (if (cores == baseN) secPerClip2c else secPerClip8c)
        else v.min
      est * 1.2 + loadWait + 60 // JVM start + warmup + one bounded wait
    }
    var extraLegs = 0
    var futile = 0 // consecutive retries that did not improve the level's best CPU
    while (times.forall(_.pinned) && !cpuAgree && extraLegs < maxExtraLegs && futile < 2 &&
        remaining > legGate(contestedLevel)) {
      System.err.println(f"[bench] best-leg CPU disagrees across levels " +
        f"(${bestCpu(baseN, early = false)}%.0f vs ${bestCpu(4 * baseN, early = false)}%.0f core-s) — " +
        f"extra leg at the contested level (${contestedLevel} cores)")
      extraLegs += 1
      extraPairs = (extraLegs + 1) / 2 // JSON continuity: retry effort in pair units
      val level = contestedLevel
      val before = bestCpu(level, early = false)
      once(level, inputDir, legLocalRoot, nClips, loadWait, fallback = Some(() => inProcessWarmed))
      // two non-improving retries in a row ⇒ the disagreement is structural
      // (tiny-n job floor) or the storm is sustained — stop spending budget
      if (bestCpu(level, early = false) >= 0.97 * before) futile += 1 else futile = 0
    }

    graft.tools.Scratch.deleteRec(
      new java.io.File(inputDir).getParentFile) // ~25 KB/clip of temp input
    legLocalRoot.foreach(d => graft.tools.Scratch.deleteRec(new java.io.File(d)))

    // final (non-partial) write + print
    phase = "done"
    emit(partial = false)
  }
}
