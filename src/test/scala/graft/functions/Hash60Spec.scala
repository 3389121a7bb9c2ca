package graft.functions

import graft.SparkSpec
import graft.ops.Portable
import org.apache.spark.sql.functions._

class Hash60Spec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq(
    ("a", 0L), ("a", 1L), ("", 0L), ("some longer shingle text", 7L),
    ("unicode ü 中", 42L)
  ).toDF("s", "p")

  test("native Hash60 == composed conv(substring(md5)) chain, all rows") {
    val cmp = rows.select(
      Portable.seededHash($"s", $"p").as("fast"),
      Portable.composedSeededHash($"s", $"p").as("slow"))
    assert(cmp.filter($"fast" =!= $"slow").count() == 0)
    // range: 60-bit non-negative
    assert(cmp.filter($"fast" < 0 || $"fast" >= Portable.TwoPow60).count() == 0)
  }

  test("null semantics mirror concat_ws: null args skipped") {
    val df = Seq(("a", Option("b")), ("a", None)).toDF("x", "y")
    val cmp = df.select(
      Portable.seededHash($"x", $"y").as("fast"),
      Portable.composedSeededHash($"x", $"y").as("slow"))
    assert(cmp.filter($"fast" =!= $"slow").count() == 0)
    // null-skipping means ("a", null) == ("a") — pin it explicitly
    val single = Seq("a").toDF("x").select(Portable.seededHash($"x")).head().getLong(0)
    val withNull = df.filter($"y".isNull)
      .select(Portable.seededHash($"x", $"y")).head().getLong(0)
    assert(single == withNull)
  }

  test("whole-stage codegen path: equal to composed chain on fixture scan") {
    // parquet-backed input (local rows constant-fold before codegen runs)
    val li = graft.ops.Sources.table(spark, sf("sf0.001"), "lineitem")
    val df = li.select(
      Portable.seededHash($"l_orderkey", $"l_linenumber", $"l_partkey").as("fast"),
      Portable.composedSeededHash($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as("slow"))
    // "*(n)" prefixes mark operators fused into WholeStageCodegen
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(df.filter($"fast" =!= $"slow").count() == 0)
  }
}
