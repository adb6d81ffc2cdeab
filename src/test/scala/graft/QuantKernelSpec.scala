package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence gates for the r21 optimization kernels:
  *
  *  - AbsMax / QuantInt8Stats (VectorExpressions.scala) must match the
  *    interpreted HOF chain they replaced in
  *    [[operators.Similarity.embQuantInt8]] bit-for-bit, including
  *    null elements, empty arrays and NaN payloads;
  *  - the integer-cents aggregate spelling
  *    ([[operators.Relational.cents]]/[[operators.Relational.sumUnits]])
  *    must emit doubles bit-identical to the decimal spelling it
  *    replaced in q1/q_corr, on 2-decimal money doubles of varied
  *    magnitude (the generator's domain).
  *
  * Same gate pattern as ChunkFoldSpec (native kernel vs Catalyst HOF).
  */
class QuantKernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  import org.apache.spark.sql.graftexpr.QuantExpressions

  private def probeDf = {
    val rnd = new scala.util.Random(21)
    val rows: Seq[Seq[java.lang.Double]] =
      (0 until 60).map(_ => Seq.fill(rnd.nextInt(80) + 1)(
        java.lang.Double.valueOf(rnd.nextGaussian() * math.pow(10, rnd.nextInt(8) - 4)))) ++
      Seq(
        Seq.empty[java.lang.Double],
        Seq(java.lang.Double.valueOf(1.5), null),
        Seq(null, java.lang.Double.valueOf(-3.25)),
        Seq(java.lang.Double.valueOf(Double.NaN), java.lang.Double.valueOf(2.0)),
        Seq(java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(-0.0)),
        Seq(java.lang.Double.valueOf(1e-300), java.lang.Double.valueOf(-1e300)))
    rows.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("id", "emb")
  }

  test("AbsMax == array_max(transform(abs)) bit-for-bit") {
    val df = probeDf
    val hof = df.select(col("id"),
      array_max(transform(col("emb"), v => abs(v))).as("m")).orderBy("id")
    val nat = df.select(col("id"),
      QuantExpressions.absMax(col("emb")).as("m")).orderBy("id")
    val h = hof.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
    val n = nat.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
    assert(h.toSeq == n.toSeq)
  }

  test("QuantInt8Stats == the four HOF folds bit-for-bit") {
    val df = probeDf
      .withColumn("amax", array_max(transform(col("emb"), v => abs(v))))
      .filter(col("amax") > 0.0)
      .withColumn("scale", lit(127.0) / col("amax"))
    val q = transform(col("emb"), v => floor(v * col("scale") + lit(0.5)).cast("bigint"))
    val hof = df.withColumn("q", q)
      .select(col("id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("sum_abs_q"),
        size(filter(col("q"), _ =!= 0L)).cast("bigint").as("nnz"),
        array_max(zip_with(col("emb"), col("q"),
          (v, qq) => abs(v - qq.cast("double") / col("scale")))).as("err_max"))
      .orderBy("id")
    val nat = df
      .withColumn("st", QuantExpressions.quantInt8Stats(col("emb"), col("scale")))
      .select(col("id"), col("st.sum_q").as("sum_q"),
        col("st.sum_abs_q").as("sum_abs_q"), col("st.nnz").as("nnz"),
        col("st.err_max").as("err_max"))
      .orderBy("id")
    def render(r: org.apache.spark.sql.Row): (Long, Option[Long], Option[Long], Long, Option[Long]) =
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(
          java.lang.Double.doubleToRawLongBits(r.getDouble(4))))
    assert(hof.collect().map(render).toSeq == nat.collect().map(render).toSeq)
  }

  test("integer-cents sums == decimal sums bit-for-bit (q1/q_corr spelling)") {
    val rnd = new scala.util.Random(42)
    // 2-decimal money doubles across the generator's magnitudes,
    // including .x5 values that sit exactly on the HALF_UP boundary
    val vals = (0 until 5000).map(_ =>
      math.round(rnd.nextDouble() * 1e7 - 5e6) / 100.0) ++
      Seq(0.125, -0.125, 2.675, 49.99, 0.005, -0.005, 100000.05)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i % 3, v, math.round(rnd.nextDouble() * 10) / 100.0) }
      .toDF("g", "x", "y")
    def dec2(c: String) = col(c).cast("decimal(18,2)")
    val dec = df.groupBy("g").agg(
      sum(dec2("x")).cast("double").as("sx"),
      sum(dec2("x") * dec2("x")).cast("double").as("sxx"),
      sum(dec2("x") * dec2("y")).cast("double").as("sxy")).orderBy("g")
    val cen = df
      .select(col("g"), operators.Relational.cents("x").as("xc"),
        operators.Relational.cents("y").as("yc"))
      .groupBy("g").agg(
        operators.Relational.sumUnits(col("xc"), 2).as("sx"),
        operators.Relational.sumUnits(col("xc") * col("xc"), 4).as("sxx"),
        operators.Relational.sumUnits(col("xc") * col("yc"), 4).as("sxy"))
      .orderBy("g")
    def bits(r: org.apache.spark.sql.Row) = (r.getInt(0), (1 to 3).map(i =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    assert(dec.collect().map(bits).toSeq == cen.collect().map(bits).toSeq)
  }

  test("cents rounds the DOUBLE product half-up: exact only to 2 fraction digits") {
    // 3-fraction-digit inputs are outside cents' precondition. The helper
    // rounds x * 100 as a double, so it agrees with the decimal spelling
    // where that product lands on .5 exactly (2.675, 0.125, -0.125) and
    // parts from it where the product falls below .5 (1.005 * 100 =
    // 100.49999999999999 -> 100, while CAST(1.005 AS DECIMAL(18,2)) = 1.01).
    val cases = Seq(
      1.005 -> (100L, 101L), 2.675 -> (268L, 268L), 0.125 -> (13L, 13L),
      -0.125 -> (-13L, -13L), 1.115 -> (112L, 112L), 10.555 -> (1056L, 1056L),
      // inside the precondition: the product's ulp noise never matters
      19.99 -> (1999L, 1999L), 4.35 -> (435L, 435L), 0.07 -> (7L, 7L))
    val got = cases.map(_._1).toDF("x")
      .select(operators.Relational.cents("x"),
        (col("x").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == cases.map(_._2))
  }
}
