package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native dot-product expression: bit-identical to the higher-order
  * formulation it replaced, codegen-participating, SQL-registrable. */
class DotProductSpec extends SparkSpec {

  private def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  test("matches the interpreted zip_with/aggregate fold bit-for-bit") {
    val sp = spark; import sp.implicits._
    val rnd = new Random(7)
    val rows = (0 until 200).map { _ =>
      ((0 until 64).map(_ => rnd.nextDouble() * 2 - 1),
       (0 until 64).map(_ => rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
    val out = df.select(
      DotProduct.of(col("a"), col("b")).as("native"),
      hof(col("a"), col("b")).as("interp")).collect()
    out.foreach { r =>
      // bit-identical, not approximately equal: same IEEE operation order
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  test("null input arrays yield null; empty arrays yield 0.0") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double]))).toDF("a", "b")
    val out = df.select(DotProduct.of(col("a"), col("b"))).collect()
    out(0).isNullAt(0) shouldBe true
    out(1).getDouble(0) shouldBe 0.0
  }

  test("participates in whole-stage codegen (no CodegenFallback)") {
    val sp = spark; import sp.implicits._
    // repartition keeps ConvertToLocalRelation from pre-evaluating the plan
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").repartition(2)
    val native = df.select(DotProduct.of(col("a"), col("b")))
    native.collect()(0).getDouble(0) shouldBe 11.0 // the generated code runs
    // the AQE final plan marks codegen'd operators with "*(id)"; a
    // CodegenFallback expression would leave the Project unstarred
    val plan = native.queryExecution.executedPlan.toString()
    plan should include regex """\*\(\d+\) Project \[graft_dot"""
  }

  test("registers as a SQL function through the session extension builder") {
    val (ident, info, builder) =
      graft.GraftExtensions.registrations.find(_._1.funcName == "graft_dot").get
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val v = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    v shouldBe 32.0
  }
}
