package graft.pipeline

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.oracle.RefOracle
import graft.synth.ClipTableGen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val conf = GraftConf()
  val N = 400

  lazy val clipsLocal = {
    val groups = math.max(1, N / 4)
    (0L until groups).flatMap(g => ClipTableGen.group(conf.seed, g))
  }
  lazy val clipsDf = ClipTableGen.table(spark, N, conf.seed).toDF()
  lazy val result = DedupPipeline.run(spark, clipsDf, conf)
  lazy val oracle = RefOracle.run(clipsLocal, conf)

  test("pipeline reproduces the seeded reference-oracle cluster assignments (recall ≥ 0.99)") {
    val got = result.clusters.as[(String, String)].collect().toMap
    assert(got.size === clipsLocal.size)
    // dup-pair recall + precision vs oracle co-cluster pairs
    def pairs(m: Map[String, String]): Set[(String, String)] = {
      m.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }.toSet
    }
    val gotPairs = pairs(got)
    val oraclePairs = oracle.dupPairs
    val inter = (gotPairs intersect oraclePairs).size.toDouble
    val recall = if (oraclePairs.isEmpty) 1.0 else inter / oraclePairs.size
    val precision = if (gotPairs.isEmpty) 1.0 else inter / gotPairs.size
    assert(oraclePairs.nonEmpty, "oracle found no dup pairs — fixture broken")
    assert(recall >= 0.99, s"recall=$recall (got ${gotPairs.size}, oracle ${oraclePairs.size})")
    assert(precision >= 0.99, s"precision=$precision")
  }

  test("pipeline clusters match planted golden truth (recall & precision ≥ 0.95)") {
    val got = result.clusters.as[(String, String)].collect().toMap
    val golden = ClipTableGen.goldenClusters(N, conf.seed)
    def pairs(m: Map[String, String]): Set[(String, String)] =
      m.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }.toSet
    val gp = pairs(golden)
    val rp = pairs(got)
    val inter = (gp intersect rp).size.toDouble
    assert(gp.nonEmpty)
    val recall = inter / gp.size
    val precision = if (rp.isEmpty) 1.0 else inter / rp.size
    assert(recall >= 0.95, s"golden recall=$recall missing=${(gp diff rp).take(5)}")
    assert(precision >= 0.95, s"golden precision=$precision extra=${(rp diff gp).take(5)}")
  }

  test("hard negatives never cluster with their master") {
    val got = result.clusters.as[(String, String)].collect().toMap
    val groups = math.max(1, N / 4)
    for (g <- 0L until groups; v <- 1 to ClipTableGen.variantCount(conf.seed, g)) {
      if (ClipTableGen.variantKind(conf.seed, g, v) == "hardneg") {
        val neg = ClipTableGen.clipId(conf.seed, g, v)
        val master = ClipTableGen.clipId(conf.seed, g, 0)
        assert(got(neg) !== got(master), s"hardneg $neg joined master cluster (group $g)")
      }
    }
  }

  test("substring variants are linked by the suffix pass") {
    val got = result.clusters.as[(String, String)].collect().toMap
    val groups = math.max(1, N / 4)
    var checked = 0
    for (g <- 0L until groups; v <- 1 to ClipTableGen.variantCount(conf.seed, g)) {
      if (ClipTableGen.variantKind(conf.seed, g, v) == "textsub") {
        val sub = ClipTableGen.clipId(conf.seed, g, v)
        val master = ClipTableGen.clipId(conf.seed, g, 0)
        assert(got(sub) === got(master), s"textsub $sub not clustered with master (group $g)")
        checked += 1
      }
    }
    assert(checked > 0, "no textsub variants planted")
  }

  test("connected components handles chains, isolated vertices, and symmetric edges") {
    val vertices = Seq("a", "b", "c", "d", "e", "f").toDF("clip_id")
    val edges = Seq(("a", "b"), ("b", "c"), ("e", "d")).toDF("a", "b")
    val cc = Components.connectedComponents(spark, vertices, edges)
      .as[(String, String)].collect().toMap
    assert(cc("a") === "a" && cc("b") === "a" && cc("c") === "a")
    assert(cc("d") === "d" && cc("e") === "d")
    assert(cc("f") === "f")
  }

  test("connected components converges on a long chain (multi-round propagation + pointer jumps)") {
    // a 64-node path graph needs several propagation rounds even with
    // pointer doubling — exercises the fused one-job-per-round loop
    // (lazy checkpoint + fingerprint convergence on successive
    // min-aggregations) beyond the 1-2 rounds small dup groups need
    val n = 64
    val ids = (0 until n).map(i => f"v$i%03d")
    val vertices = ids.toDF("clip_id")
    val edges = (0 until n - 1).map(i => (ids(i), ids(i + 1))).toDF("a", "b")
    val cc = Components.connectedComponents(spark, vertices, edges)
      .as[(String, String)].collect().toMap
    assert(cc.keySet === ids.toSet)
    assert(cc.values.toSet === Set("v000"), s"chain must collapse to one component: ${cc.values.toSet}")
  }

  test("adversarial skew: one hot band key still yields one correct cluster via chain pairs") {
    // all-duplicates table: many exact copies of one master → every band key hot
    val skewConf = conf.copy(bucketCap = 8, chainWidth = 2)
    val master = ClipTableGen.group(conf.seed, 7L).head
    val dupes = (0 until 120).map(i => master.copy(clip_id = f"dup$i%04d"))
    val df = dupes.toDF()
    val res = DedupPipeline.run(spark, df, skewConf)
    val got = res.clusters.as[(String, String)].collect().toMap
    assert(got.values.toSet.size === 1, "all exact dupes must form one cluster")
    // and the capped path was actually exercised
    val capped = res.edges.filter(col("accepted")).count()
    assert(capped < 120L * 119 / 2, "chain capping should bound pair count below O(n²)")
    assert(capped >= 119, "chain must keep the bucket connected")
  }

  test("empty transcripts: distinct audio gives singletons, identical audio one cluster") {
    // an empty transcript has no text or SimHash band keys and scores text
    // Jaccard 0.0, so only the audio can link such clips
    val masters = (0L until 12L).map(g => ClipTableGen.group(conf.seed, g).head)
    def clusters(clips: Seq[graft.synth.Clip]): Map[String, String] =
      DedupPipeline.run(spark, clips.toDF(), conf).clusters.as[(String, String)].collect().toMap
    val ids = masters.indices.map(i => f"e$i%02d")
    val distinct = clusters(masters.zip(ids).map { case (m, id) => m.copy(clip_id = id, transcript = "") })
    assert(distinct === ids.map(id => id -> id).toMap, "distinct audio must stay singletons")
    val same = clusters(ids.map(id => masters.head.copy(clip_id = id, transcript = "")))
    assert(same === ids.map(_ -> "e00").toMap, "identical audio must form one cluster")
  }

  test("band bucket of 40 over bucketCap 4 is chain-bridged, never dropped") {
    // group of 40 on one band key with bucketCap 4: the 35 members past the
    // first bucketCap + 1 stream through the chain ring and must all
    // (a) appear in pairs, (b) stay connected to the head's chain,
    // (c) stay in the linear pair regime, (d) be flagged capped.
    val c = conf.copy(bucketCap = 4, chainWidth = 2)
    val n = 40
    val ids = (0 until n).map(i => f"m$i%03d")
    val bands = ids.map(id => (99L, 1, id)).toDF("band_key", "src", "clip_id")
    val rows = CandidatePairs.fromBands(spark, bands, c)
      .select("a", "b", "capped").as[(String, String, Boolean)].collect()
    assert(rows.forall(_._3), "every pair of an overflowed group must be flagged capped")
    assert(rows.forall(r => r._1 < r._2), "pairs must be endpoint-ordered")
    val pairs = rows.map(r => (r._1, r._2)).toSet
    assert(pairs.flatMap(p => Set(p._1, p._2)) === ids.toSet,
      "every member (incl. overflow) must appear in at least one pair")
    // connectivity via local union-find
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert(ids.map(find).toSet.size === 1, "overflowed group must remain one component")
    // linear regime, not O(n²)
    assert(pairs.size <= n * 2 * c.chainWidth, s"pair count ${pairs.size} not linear")
  }

  test("suffix group of 40 over bucketCap 4 stays bounded, connected, capped") {
    // one boilerplate W-token window shared by 40 docs with bucketCap 4:
    // the generator buffers bucketCap + 1 members and streams the other 35
    // through the chain ring — (a) every member appears in pairs, (b) the
    // group stays one component, (c) the pair count stays in the linear
    // regime, (d) every pair is flagged capped.
    val w = conf.substringWindow
    val common = (1 to w).map(i => s"b$i").mkString(" ")
    val n = 40
    val ids = (0 until n).map(i => f"s$i%03d")
    val clips = ids.map(id => (id, common)).toDF("clip_id", "transcript")
    val c = conf.copy(bucketCap = 4, chainWidth = 2)
    val rows = substringCandidates(clips, c)
      .select("a", "b", "capped").as[(String, String, Boolean)].collect()
    assert(rows.forall(_._3), "every pair of an overflowed window group must be flagged capped")
    assert(rows.forall(r => r._1 < r._2), "pairs must be endpoint-ordered")
    val pairs = rows.map(r => (r._1, r._2)).toSet
    assert(pairs.flatMap(p => Set(p._1, p._2)) === ids.toSet,
      "every member (incl. overflow) must appear in at least one pair")
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert(ids.map(find).toSet.size === 1, "overflowed window group must remain one component")
    // linear regime: chain O(n·width) + seed probes O(SeedProbeLimit·cap)
    assert(pairs.size <= n * 2 * c.chainWidth + SuffixDups.SeedProbeLimit * c.bucketCap,
      s"pair count ${pairs.size} not in the bounded regime")
  }

  test("capped hot-phrase group still finds containment pairs beyond the chain width") {
    // > bucketCap docs share one boilerplate window; a contained doc's true
    // container sits ~190 ids away — chain pairs (width 2) alone would
    // lose it; the seed-probe fan must recover it. (The fan is itself
    // bounded: containment partners beyond the first bucketCap id-sorted
    // members of a capped group remain out of reach — documented limit.)
    val w = conf.substringWindow
    val common = (1 to w).map(i => s"c$i").mkString(" ")
    val docs = (0 until 520).map { i =>
      val id = f"d$i%04d"
      val text =
        if (id == "d0200") s"$common z9" // fully contained in d0010's text
        else if (id == "d0010") s"$common z9 tail tail2 tail3"
        else s"$common u$i filler$i x$i"
      (id, text)
    }
    val clips = docs.toDF("clip_id", "transcript")
    val smallCap = conf.copy(bucketCap = 256, chainWidth = 2)
    val cand = substringCandidates(clips, smallCap)
      .select("a", "b").as[(String, String)].collect().toSet
    assert(cand.contains(("d0010", "d0200")),
      "seed-probe fan must emit the far-apart containment pair in a capped group")
    // and the capped path was the one taken (group of 520 > cap 256)
    val capped = substringCandidates(clips, smallCap)
      .filter(col("capped")).count()
    assert(capped > 0)
    // blowup stays bounded: chain O(n·width) + probes O(limit·cap)
    assert(cand.size <= 520 * 2 + SuffixDups.SeedProbeLimit * 256)
  }

  test("checkpointed stages resume without recompute and reproduce identical clusters") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ckptConf = conf.copy(checkpointDir = Some(tmp))
    val df = ClipTableGen.table(spark, 120, conf.seed).toDF()
    val r1 = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120")
    val c1 = r1.clusters.as[(String, String)].collect().toMap
    assert(r1.stages.forall(!_.resumed))
    assert(r1.stages.forall(_.rows >= 0))
    // manifests exist with lineage
    val manifest = parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/_MANIFEST_signatures.json")), "UTF-8"))
    assert((manifest \ "partitions").children.nonEmpty)
    assert((manifest \ "wall_ms").isInstanceOf[JInt])
    // delete the LAST stage's manifest (simulate kill before completion)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/_MANIFEST_clusters.json"))
    val r2 = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120")
    val c2 = r2.clusters.as[(String, String)].collect().toMap
    assert(c2 === c1, "resumed run must be byte-identical")
    // earlier stages were resumed, not recomputed
    assert(r2.stages.count(_.resumed) === 3, r2.stages.map(s => (s.name, s.resumed)).toString)
    // changed input signature invalidates resume
    val r3 = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120-v2")
    assert(r3.stages.forall(!_.resumed))
  }

  test("an in-memory run's cleanup() releases every RDD the run left persisted") {
    // the signature and edge persists and CC's converged labels
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val res = DedupPipeline.run(spark, ClipTableGen.table(spark, 120, conf.seed).toDF(), conf)
    res.clusters.collect()
    res.edges.collect()
    assert((sc.getPersistentRDDs.keySet.toSet -- before).nonEmpty)
    res.cleanup()
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, left.map(sc.getPersistentRDDs(_).toDebugString).mkString("\n"))
  }

  test("job budget: one checkpointed run over the 120-row table starts its pinned job count") {
    // Measured: 16. Each of the four stage boundaries costs its write only;
    // CC counts its accepted edges to size its loop, needs one loop round
    // after three contraction passes (each round a fingerprint fold plus
    // its checkpoint write) and exits without a jump. A per-stage scan or
    // an extra CC round fails this.
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobs").toFile
    try {
      val df = ClipTableGen.table(spark, 120, conf.seed).toDF()
      val (_, jobs) = org.apache.spark.graft.JobCounter.count(spark.sparkContext)(
        DedupPipeline.run(spark, df, conf.copy(checkpointDir = Some(tmp.getPath))))
      assert(jobs === 16, s"$jobs Spark jobs")
    } finally graft.tools.Scratch.deleteRec(tmp)
  }

  /** The substring pass fed as the pipeline feeds it: the signature
    * stage's token hashes of (clip_id, transcript) rows without audio. */
  private def substringCandidates(clips: DataFrame, c: GraftConf): DataFrame =
    SuffixDups.candidatesFromTokenHashes(spark, Signatures.compute(spark,
      clips.withColumn("bytes", lit(null).cast("binary")), c).select("clip_id", "toks_h"), c)

  // Exact output of the shared bucket-pair generator (CandidatePairs class
  // doc), pinned row for row on the raw stream of each caller.
  private def bandRows(c: GraftConf, members: Seq[(String, Int)]) =
    CandidatePairs.fromBands(spark, members.map { case (id, src) => (5L, src, id) }
      .toDF("band_key", "src", "clip_id"), c)
      .as[(String, String, Int, Boolean)].collect().sorted.toSeq

  test("band bucket of exactly bucketCap members: all C(n,2) pairs, exact, sources OR-ed") {
    val c = conf.copy(bucketCap = 4, chainWidth = 2)
    val rows = bandRows(c, Seq("m3" -> 2, "m0" -> 1, "m2" -> 1, "m1" -> 2))
    val ids = Seq("m0", "m1", "m2", "m3")
    val all = for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j), 3, false)
    assert(rows === all)
  }

  test("band bucket of bucketCap + 1 members: exactly the id-order chain, capped, no probe fan") {
    val c = conf.copy(bucketCap = 4, chainWidth = 2)
    val rows = bandRows(c, Seq("m4", "m1", "m3", "m0", "m2").map(_ -> 1))
    val chain = Seq(("m0", "m1"), ("m0", "m2"), ("m1", "m2"), ("m1", "m3"),
      ("m2", "m3"), ("m2", "m4"), ("m3", "m4")).map { case (a, b) => (a, b, 1, true) }
    assert(rows === chain)
  }

  test("substring group within bucketCap: each seed×member pair exactly once") {
    // s1/s2's whole text is the shared window, so it is their seed; m1/m2
    // carry it after a prefix, so it is a plain member of theirs
    val common = (1 to conf.substringWindow).map(i => s"c$i").mkString(" ")
    val clips = Seq("s1" -> common, "s2" -> common, "m1" -> s"x1 $common",
      "m2" -> s"y1 y2 $common").toDF("clip_id", "transcript")
    val rows = substringCandidates(clips, conf)
      .as[(String, String, Int, Boolean)].collect().sorted.toSeq
    val expected = Seq(("m1", "s1"), ("m1", "s2"), ("m2", "s1"), ("m2", "s2"), ("s1", "s2"))
      .map { case (a, b) => (a, b, Signatures.SrcSubstring, false) }
    assert(rows === expected)
  }

  test("a clip id repeated inside one bucket is never paired with itself") {
    val small = bandRows(conf, Seq("x" -> 1, "y" -> 1, "x" -> 2))
    assert(small === Seq(("x", "y", 3, false)))
    val c = conf.copy(bucketCap = 2, chainWidth = 2)
    val capped = bandRows(c, Seq("x", "y", "x", "z", "y", "w").map(_ -> 1))
    assert(capped.map(r => (r._1, r._2)) ===
      Seq(("w", "x"), ("w", "y"), ("x", "y"), ("x", "z"), ("y", "z")))
    val common = (1 to conf.substringWindow).map(i => s"c$i").mkString(" ")
    val clips = Seq("d1" -> common, "d1" -> s"$common tail", "d2" -> s"x $common")
      .toDF("clip_id", "transcript")
    val sub = substringCandidates(clips, c).select("a", "b")
      .as[(String, String)].collect().toSeq
    assert(sub === Seq(("d1", "d2")))
  }
}
