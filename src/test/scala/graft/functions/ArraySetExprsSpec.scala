package graft.functions

import graft.SparkTestBase
import graft.kernel.Shingles
import graft.pipeline.VerifyPairs
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native verify-stage expressions must be BIT-FOR-BIT the kernels they
  * replaced (`Shingles.jaccardSorted`, `VerifyPairs.isSubSequence`) on both
  * execution paths — the codegen'd one a real plan runs and the interpreted
  * `eval` fallback — and must actually stay inside whole-stage codegen
  * (the whole point of writing them as expressions).
  */
class ArraySetExprsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import ArraySetExprs.{containsSubseq, jaccardSorted}

  /** Deterministic pseudo-random sorted-distinct / sequence fixtures,
    * including empties, singletons, disjoint, identical, nested slices. */
  private def fixtures: Seq[(Array[Long], Array[Long])] = {
    val rnd = new scala.util.Random(42)
    def arr(n: Int, pool: Int): Array[Long] =
      Array.fill(n)(rnd.nextInt(pool).toLong)
    val pairs = Seq.newBuilder[(Array[Long], Array[Long])]
    pairs += ((Array.empty[Long], Array.empty[Long]))
    pairs += ((Array.empty[Long], Array(1L, 2L)))
    pairs += ((Array(5L), Array(5L)))
    pairs += ((Array(1L, 2L, 3L), Array(4L, 5L, 6L)))
    for (_ <- 0 until 60) {
      val a = arr(rnd.nextInt(40), 30)
      val b = if (rnd.nextBoolean()) arr(rnd.nextInt(40), 30)
              else a.slice(rnd.nextInt(a.length + 1), a.length) // nested slice
      pairs += ((a, b))
    }
    pairs.result()
  }

  test("jaccardSorted matches the kernel on codegen and interpreted paths") {
    import spark.implicits._
    val rows = fixtures.map { case (a, b) => (a.distinct.sorted, b.distinct.sorted) }
    val df = rows.toDF("a", "b")
      .select($"a", $"b", jaccardSorted($"a", $"b").as("j"))
    val got = df.collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      val want = Shingles.jaccardSorted(a, b)
      assert(r.getDouble(2) === want, s"a=${a.toSeq} b=${b.toSeq}")
    }
    // interpreted fallback: eval the expression directly
    rows.foreach { case (a, b) =>
      val e = JaccardSorted(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval(null) === Shingles.jaccardSorted(a, b))
    }
  }

  test("jaccardSorted: either side empty scores 0.0, null gives null") {
    import spark.implicits._
    val df = Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L)),
      (Array(1L), Array.empty[Long])
    ).toDF("a", "b").select(jaccardSorted($"a", $"b").as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(0.0, 0.0, 0.0))
    val withNull = Seq((Some(Array(1L)), Option.empty[Array[Long]]))
      .toDF("a", "b").select(jaccardSorted($"a", $"b").as("j"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("containsSubseq matches isSubSequence on codegen and interpreted paths") {
    import spark.implicits._
    val rows = fixtures
    val df = rows.toDF("inner", "outer")
      .select(containsSubseq($"inner", $"outer").as("s"))
    val got = df.collect()
    rows.zip(got).foreach { case ((inner, outer), r) =>
      val want = VerifyPairs.isSubSequence(inner, outer)
      assert(r.getBoolean(0) === want, s"inner=${inner.toSeq} outer=${outer.toSeq}")
    }
    rows.foreach { case (inner, outer) =>
      val e = ContainsSubseq(
        org.apache.spark.sql.catalyst.expressions.Literal.create(inner,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(outer,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval(null) === VerifyPairs.isSubSequence(inner, outer))
    }
  }

  test("containsSubseq: empty inner never matches; prefix/suffix/slice do") {
    import spark.implicits._
    val a = Array(3L, 1L, 4L, 1L, 5L, 9L)
    val df = Seq(
      (Array.empty[Long], a),                    // empty inner → false
      (a.take(3), a),                            // prefix → true
      (a.drop(3), a),                            // suffix → true
      (a.slice(2, 5), a),                        // mid slice → true
      (Array(1L, 4L, 9L), a),                    // non-contiguous → false
      (a, a.take(3))                             // inner longer → false
    ).toDF("inner", "outer").select(containsSubseq($"inner", $"outer").as("s"))
    assert(df.collect().map(_.getBoolean(0)).toSeq ===
      Seq(false, true, true, true, false, false))
  }

  test("both expressions run inside whole-stage codegen") {
    import spark.implicits._
    // A literal Seq constant-folds to LocalTableScan (the expressions would
    // be eval'd at plan time); spark.range forces a real codegen'd stage.
    val df = spark.range(1, 5)
      .select($"id", sequence(lit(1L), $"id").as("a"), sequence(lit(1L), lit(3L)).as("b"))
      .select($"id",
        jaccardSorted($"a", $"b").as("j"), containsSubseq($"a", $"b").as("s"))
    val hasWsc = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }
    assert(hasWsc.nonEmpty, df.queryExecution.executedPlan.toString)
    // and the codegen'd run agrees with the kernels: a = [1..id], b = [1,2,3]
    df.collect().foreach { r =>
      val id = r.getLong(0)
      val a = (1L to id).toArray
      val b = Array(1L, 2L, 3L)
      assert(r.getDouble(1) === Shingles.jaccardSorted(a, b), s"id=$id")
      assert(r.getBoolean(2) === VerifyPairs.isSubSequence(a, b), s"id=$id")
    }
  }

  test("nullable-element arrays are rejected at analysis time, not misread") {
    import spark.implicits._
    // array(when(...)) has containsNull=true; getLong over such a slot would
    // return garbage silently, so the plan must fail analysis instead
    val df = Seq((1L, 2L)).toDF("x", "y")
      .select(array(when($"x" > 0, $"x")).as("a"), array($"y").as("b"))
    val errJ = intercept[Exception] { df.select(jaccardSorted($"a", $"b")).collect() }
    val errS = intercept[Exception] { df.select(containsSubseq($"a", $"b")).collect() }
    Seq(errJ, errS).foreach(e =>
      assert(e.getMessage.contains("non-null elements"), e.getMessage))
    // and the production signature schema (primitive arrays) still passes
    val ok = Seq((Array(1L, 2L), Array(2L, 3L))).toDF("a", "b")
      .select(jaccardSorted($"a", $"b").as("j"), containsSubseq($"a", $"b").as("s"))
    assert(ok.collect().head.getDouble(0) === 1.0 / 3.0)
  }
}
