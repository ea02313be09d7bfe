package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The split-aggregate forms of a11 and a1b (distinct counts in one
  * aggregate, one array-valued percentile buffer in another, joined back
  * on the grain) against the single-aggregate forms they replaced, on the
  * sf0.001 tables and on copies with a null grouping key.
  */
class QueriesASpec extends SparkSpecBase {

  private def a11Fused(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_partkey")).as("n_parts"),
        to_date(min(col("l_shipdate"))).as("first_ship"),
        to_date(max(col("l_shipdate"))).as("last_ship"),
        round(percentile(col("l_extendedprice"), lit(0.25)) + lit(1e-9), 6).as("p25"),
        round(percentile(col("l_extendedprice"), lit(0.5)) + lit(1e-9), 6).as("p50"),
        round(percentile(col("l_extendedprice"), lit(0.75)) + lit(1e-9), 6).as("p75"))

  private def a1bFused(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id")).as("__au"),
        percentile(col("value"), lit(0.4)).as("__p40"),
        percentile(col("value"), lit(0.6)).as("__p60"),
        approx_percentile(col("value"), lit(0.5), lit(1000)).as("__am"))
      .select(col("event_date"), col("n_events"), col("n_users"),
        (abs(col("__au") - col("n_users")) / col("n_users") <= 0.15)
          .as("hll_within_3sigma"),
        (col("__am") >= col("__p40") && col("__am") <= col("__p60"))
          .as("median_in_p40_p60"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `table` of sf0.001 written to a temp dir with `nulled` set to null
    * on every 7th row, so the grain gains a null key.
    */
  private def withNullKeys(table: String, nulled: String): String = {
    val dir = Files.createTempDirectory("graft_split_agg").toString
    val df = Tables.load(spark, sf("sf0.001"), table)
      .withColumn("__i", monotonically_increasing_id())
    df.withColumn(nulled, when(col("__i") % 7 === 0, lit(null))
        .otherwise(col(nulled)))
      .drop("__i").write.parquet(s"$dir/$table.parquet")
    dir
  }

  test("a11: split quartiles equal the single-aggregate form, " +
      "null key group included") {
    val a11 = SparkEntry.queries("a11_summary_quartiles")
    val nullDir = withNullKeys("lineitem", "l_returnflag")
    for (d <- Seq(sf("sf0.001"), nullDir)) {
      val got = a11(spark, d)
      assert(got.columns.toSeq == a11Fused(spark, d).columns.toSeq)
      assert(rows(got) == rows(a11Fused(spark, d)))
    }
    assert(a11(spark, nullDir).where(col("l_returnflag").isNull)
      .where(col("p50").isNotNull).count() > 0)
  }

  test("a1b: split p40/p60 equal the single-aggregate form, " +
      "null event_date included") {
    val a1b = SparkEntry.queries("a1b_daily_stats_approx")
    for (d <- Seq(sf("sf0.001"), withNullKeys("events", "ts"))) {
      val got = a1b(spark, d)
      assert(got.columns.toSeq == a1bFused(spark, d).columns.toSeq)
      assert(rows(got) == rows(a1bFused(spark, d)))
    }
  }
}
