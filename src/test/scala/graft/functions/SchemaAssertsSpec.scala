package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** [[SchemaAsserts]] — restoring array-element non-nullability after a
  * parquet round-trip (file sources widen containsNull to true on read,
  * even under an explicit read schema). */
class SchemaAssertsSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark

  test("parquet round-trip widens containsNull; tightenArrays restores it and data") {
    import spark.implicits._
    val src = Seq((1L, Array(1L, 2L)), (2L, Array.empty[Long]), (3L, null.asInstanceOf[Array[Long]]))
      .toDF("id", "arr")
    assert(!src.schema("arr").dataType.asInstanceOf[ArrayType].containsNull)
    val dir = java.nio.file.Files.createTempDirectory("schema-asserts").toString + "/t"
    src.write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("arr").dataType.asInstanceOf[ArrayType].containsNull,
      "precondition: the reader widens (if this fails, the workaround is obsolete)")
    val tight = SchemaAsserts.tightenArrays(back, src.schema)
    assert(tight.schema("arr").dataType === ArrayType(LongType, containsNull = false))
    assert(tight.schema("id").dataType === LongType)
    // identity at runtime, including null ARRAYS (top-level null is allowed)
    val got = tight.orderBy("id").collect()
    assert(got.map(r => Option(r.get(1)).map(_ => r.getSeq[Long](1).toList)).toSeq ===
      Seq(Some(List(1L, 2L)), Some(Nil), None))
    // and the native verify kernels accept the tightened column again
    val j = tight.filter($"id" < 3).orderBy("id")
      .select(ArraySetExprs.jaccardSorted($"arr", $"arr").as("j"))
      .collect().map(_.getDouble(0)).toSeq
    assert(j === Seq(1.0, 0.0))
  }

  test("no-op when nothing needs tightening (same plan object)") {
    import spark.implicits._
    val df = Seq((1L, Array(1L))).toDF("id", "arr")
    assert(SchemaAsserts.tightenArrays(df, df.schema) eq df)
    // written schema says the column was already nullable-element → no-op too
    val wide = df.select($"id", array(when($"id" > 0, $"id")).as("arr"))
    assert(SchemaAsserts.tightenArrays(wide, wide.schema) eq wide)
  }

  test("the assertion is free: identity codegen inside a whole-stage span") {
    import spark.implicits._
    val df = spark.range(1, 100)
      .select($"id", sequence(lit(1L), $"id" % 5 + 1).as("arr"))
    val dir = java.nio.file.Files.createTempDirectory("schema-asserts").toString + "/t2"
    df.write.parquet(dir)
    val tight = SchemaAsserts.tightenArrays(spark.read.parquet(dir), df.schema)
      .select(sum(size($"arr")).as("s"))
    assert(tight.collect().head.getLong(0) ===
      df.select(sum(size($"arr"))).collect().head.getLong(0))
    // AQE wraps the plan; after execution the final plan is visible. The
    // `*(n)` markers are WholeStageCodegen spans, and the assertion sits
    // inside one (plan shows `known_non_null_elements` under a `*(1)`).
    val planStr = tight.queryExecution.executedPlan.toString
    assert(planStr.contains("*(1)") && planStr.contains("known_non_null_elements"), planStr)
  }
}
