package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.{Similarity, Skew}

class DotProductSpec extends SparkSpecBase {

  import spark.implicits._

  test("DotProduct matches the HOF form (interpreted and codegen paths)") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0)),
      (Seq(-1.5, 2.5), Seq(2.0, 4.0))).toDF("a", "b")
    val out = df.select(
      DotProduct.dot(col("a"), col("b")).as("fast"),
      Similarity.dot(col("a"), col("b")).as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    assert(out(0).getDouble(0) === 32.0)
  }

  test("DotProduct is null on null input and registered for SQL") {
    val df = Seq((Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]))
      .toDF("a", "b")
    assert(df.select(DotProduct.dot(col("a"), col("b"))).head().isNullAt(0))
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))").head()
    assert(r.getDouble(0) === 11.0)
  }

  test("salted aggregation equals direct aggregation") {
    val events = graft.Tables.events(spark, sf("sf0.001"))
    val direct = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("event_type").collect()
    val salted = Skew.saltedAggregate(events, Seq("event_type"),
        Skew.SaltedAgg(sums = Seq("value"), mins = Seq("value"),
          maxs = Seq("value")), numSalts = 8)
      .orderBy("event_type").collect()
    direct.zip(salted).foreach { case (d, s) =>
      assert(d.getAs[String]("event_type") === s.getAs[String]("event_type"))
      assert(d.getAs[Long]("n") === s.getAs[Long]("n"))
      assert(math.abs(d.getAs[Double]("sum_value") -
        s.getAs[Double]("sum_value")) < 1e-6)
      assert(d.getAs[Double]("min_value") === s.getAs[Double]("min_value"))
      assert(d.getAs[Double]("max_value") === s.getAs[Double]("max_value"))
    }
  }
}
