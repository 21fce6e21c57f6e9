package graft.pipeline

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.synth.ClipTableGen
import graft.tools.Scratch
import org.apache.spark.sql.functions.min
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** `Components`: labels against a driver-side union-find reference over
  * graph shapes that stress the contraction and the label loop, the
  * per-partition union-find on its own, the iteration bound, and where
  * reliable-mode round checkpoints go. */
class ComponentsSpec extends AnyFunSuite {
  import ComponentsSpec.Graph
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Reference labels: min id per connected component (singletons: self). */
  def referenceLabels(g: Graph): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(v: String): String = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    g.vertices.foreach(find)
    g.edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** `n` distinct random ids, so id order is unrelated to generation order. */
  def randomIds(rnd: Random, n: Int, used: mutable.Set[String]): IndexedSeq[String] =
    Iterator.continually(f"c${rnd.nextInt(1 << 30)}%010d").filter(used.add).take(n).toIndexedSeq

  /** One component shape over fresh ids. The chain is the skew-capped
    * generator's: each member paired with its next `width` in id order. */
  def shape(rnd: Random, kind: Int, used: mutable.Set[String]): Graph = kind match {
    case 0 => // random sparse graph (may itself be several components)
      val ids = randomIds(rnd, 2 + rnd.nextInt(60), used)
      Graph(ids, Seq.fill(rnd.nextInt(2 * ids.size))((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
        .filter { case (a, b) => a != b })
    case 1 => // id-order chain, width 2, up to 500 members
      val ids = randomIds(rnd, 2 + rnd.nextInt(499), used).sorted
      Graph(ids, for (i <- ids.indices; k <- 1 to 2 if i + k < ids.size) yield (ids(i), ids(i + k)))
    case 2 => // clique
      val ids = randomIds(rnd, 2 + rnd.nextInt(12), used)
      Graph(ids, for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j)))
    case 3 => // star around a random (not necessarily minimal) center
      val ids = randomIds(rnd, 2 + rnd.nextInt(40), used)
      Graph(ids, ids.tail.map(l => (ids.head, l)))
    case _ => // singletons
      Graph(randomIds(rnd, 1 + rnd.nextInt(20), used), Nil)
  }

  /** A disjoint union of 1..6 shapes; edges distinct, random orientation. */
  val graphs: Gen[Graph] = for {
    seed <- Gen.long
    kinds <- Gen.nonEmptyListOf(Gen.choose(0, 4)).map(_.take(6))
  } yield {
    val rnd = new Random(seed)
    val used = mutable.HashSet.empty[String]
    val parts = kinds.map(shape(rnd, _, used))
    val edges = parts.flatMap(_.edges)
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    Graph(rnd.shuffle(parts.flatMap(_.vertices)), edges)
  }

  def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  def cc(g: Graph, ckpt: Option[String], maxIterations: Int = 50): Map[String, String] =
    Components.connectedComponents(spark, g.vertices.toDF("clip_id"), g.edges.toDF("a", "b"),
      maxIterations, ckpt).as[(String, String)].collect().toMap

  def tempDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  test("labels equal a union-find reference (min id per component), in-memory rounds") {
    check(Prop.forAll(graphs)(g => cc(g, None) == referenceLabels(g)), 12)
  }

  test("labels equal a union-find reference (min id per component), reliable checkpoints") {
    val dir = tempDir("graft-cc-prop")
    try check(Prop.forAll(graphs)(g => cc(g, Some(dir.getPath)) == referenceLabels(g)), 8)
    finally Scratch.deleteRec(dir)
  }

  test("per-partition union-find: one row per non-root, root = min of its local component") {
    check(Prop.forAll(graphs) { g =>
      val out = Components.localRoots(g.edges.iterator).toSeq
      val ref = referenceLabels(Graph(g.edges.flatMap { case (a, b) => Seq(a, b) }.distinct, g.edges))
      val outVertices = out.flatMap { case (v, r) => Seq(v, r) }.distinct
      out.forall { case (v, r) => r < v && ref(v) == r } &&
        out.map(_._1).distinct.size == out.size &&
        out.size == ref.count { case (v, r) => v != r } &&
        referenceLabels(Graph(outVertices, out)) == ref
    }, 200)
  }

  test("reaching maxIterations throws instead of returning unconverged labels") {
    val g = Graph(Seq("a", "b", "c"), Seq(("a", "b"), ("b", "c")))
    val e = intercept[IllegalStateException](cc(g, None, maxIterations = 0))
    assert(e.getMessage.contains("maxIterations = 0"), e.getMessage)
    assert(cc(g, None, maxIterations = 1) === Map("a" -> "a", "b" -> "a", "c" -> "a"))
    intercept[IllegalArgumentException](GraftConf(maxCcIterations = 0))
  }

  test("three contraction passes leave one loop round on the capped generator's chain shape") {
    // id-order chain of width 2 over 200 random ids (the ad and music-only
    // clusters of the skew-capped generator): round 0 already reaches the
    // per-component min, so one loop round confirms the fixpoint. Two
    // passes need two rounds here (Components class doc).
    for (seed <- 1 to 5) {
      val ids = randomIds(new Random(seed), 200, mutable.HashSet.empty[String]).sorted
      val g = Graph(ids, for (i <- ids.indices; k <- 1 to 2 if i + k < ids.size) yield (ids(i), ids(i + k)))
      assert(cc(g, None, maxIterations = 1) === referenceLabels(g), s"seed $seed")
    }
  }

  test("a call leaves no persisted RDD but, in memory, the converged round its result reads") {
    // a path in random id order: round 0, then loop rounds that each free the one before
    val ids = randomIds(new Random(7), 400, mutable.HashSet.empty[String])
    val g = Graph(ids, ids.zip(ids.tail))
    val sc = spark.sparkContext
    def left[T](body: => T): (T, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = body
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    val dir = tempDir("graft-cc-persist")
    try {
      val (reliable, leftReliable) = left(cc(g, Some(dir.getPath)))
      assert(leftReliable.isEmpty, "reliable mode: the result reads the last round's files")
      assert(reliable === referenceLabels(g))
    } finally Scratch.deleteRec(dir)
    val (out, leftLocal) = left(Components.connectedComponents(spark, g.vertices.toDF("clip_id"),
      g.edges.toDF("a", "b")))
    assert(leftLocal.size === 1, "in memory: only the converged round's blocks")
    assert(out.as[(String, String)].collect().toMap === referenceLabels(g))
    sc.getPersistentRDDs(leftLocal.head).unpersist(false)
    assert(left(intercept[IllegalStateException](cc(g, None, maxIterations = 0)))._2.isEmpty)
  }

  test("labels take the min id in Spark's string order, not UTF-16 order") {
    // U+E000 sorts after a surrogate pair in UTF-16, before it in UTF-8
    val (bmp, astral) = ("\ue000", "\ud83d\ude00")
    assert(cc(Graph(Seq(astral, bmp), Seq((astral, bmp))), None).values.toSet ===
      Set(Seq(astral, bmp).toDF("id").agg(min($"id")).as[String].head()))
    assert(Components.least(astral, bmp) === bmp && Components.least("ab", "a") === "a")
  }

  test("round checkpoints follow each run's checkpointDir and are deleted after the run") {
    val df = ClipTableGen.table(spark, 120, 42L).toDF()
    val (d0, d1, d2) = (tempDir("graft-cc-run0"), tempDir("graft-cc-run1"), tempDir("graft-cc-run2"))
    def files(d: File): Set[String] =
      Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Set(f.getPath)).toSet
    try {
      // an earlier run in this session left its own dir on the SparkContext
      spark.sparkContext.setCheckpointDir(Components.rddCheckpointDir(d0.getPath))
      val before0 = files(d0)
      def run(d: File) = DedupPipeline.run(spark, df, GraftConf(checkpointDir = Some(d.getPath)))
        .clusters.as[(String, String)].collect().toMap
      val c1 = run(d1)
      val after1 = files(d1)
      val c2 = run(d2)
      assert(c2 === c1)
      assert(files(d0) === before0, "a run wrote under an earlier run's checkpoint dir")
      assert(files(d1) === after1, "run 2 wrote under run 1's checkpointDir")
      for (d <- Seq(d1, d2))
        assert(!new File(Components.rddCheckpointDir(d.getPath)).exists, s"cc-rdd left under $d")
      assert(files(d2).exists(_.contains("/clusters/")))
    } finally Seq(d0, d1, d2).foreach(Scratch.deleteRec)
  }
}

object ComponentsSpec {
  /** A graph: its vertex set and undirected edges. */
  final case class Graph(vertices: Seq[String], edges: Seq[(String, String)])
}
