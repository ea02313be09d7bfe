package graft.etl

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpecBase

class EventAggregatorSpec extends SparkSpecBase {

  import spark.implicits._

  private type Event = (String, String, String, String, Long, String,
    String, String, Double, Double)

  // (collection, token, type, date, ts, buyer, seller, to, total, each)
  private def fact(rows: Seq[Event]): DataFrame = rows
    .toDF("collection", "token_id", "event_type", "d", "unix_timestamp",
      "buyer", "seller", "to_address", "price_total_eth", "price_each_eth")
    .withColumn("event_date", to_date(col("d")))
    .withColumn("event_timestamp", timestamp_seconds(col("unix_timestamp")))
    .withColumn("contract_address", lit("0xc"))
    .withColumn("rarity_rank", lit(null).cast("long"))
    .withColumn("rarity_score", lit(null).cast("double"))
    .drop("d")
    .cache()

  private lazy val clean: DataFrame = fact(Seq(
    ("bayc", "1", "mint", "2023-05-01", 1682935000L, "0xb1", null, "0xb1", 0.0, 0.0),
    ("bayc", "1", "sale", "2023-05-01", 1682935200L, "0xb1", "0xs1", "0xb1", 2.0, 2.0),
    ("bayc", "1", "sale", "2023-05-02", 1683021600L, "0xb2", "0xb1", "0xb2", 4.0, 4.0),
    ("bayc", "2", "sale", "2023-05-01", 1682936000L, "0xb2", "0xs1", "0xb2", 6.0, 6.0),
    ("bayc", "2", "transfer", "2023-05-03", 1683108000L, null, null, "0xb3", 0.0, 0.0),
    ("azuki", "9", "sale", "2023-05-01", 1682937000L, "0xb1", "0xs2", "0xb1", 10.0, 10.0)))

  // Distinct-count edges: repeated and null values in every counted
  // column, groups whose counted column is all null (bayc on 05-02,
  // quiet on 05-04, token 2's owners), a null token id, a null
  // collection, and a collection with no priced event (quiet).
  private lazy val edges: DataFrame = fact(Seq(
    ("bayc", "1", "sale", "2023-05-01", 1682935200L, "0xb1", "0xs1", "0xb1", 2.0, 2.0),
    ("bayc", "1", "sale", "2023-05-01", 1682935300L, "0xb1", "0xs1", "0xb1", 2.0, 2.0),
    ("bayc", "2", "sale", "2023-05-01", 1682936000L, null, "0xs1", null, 3.0, 3.0),
    ("bayc", "2", "transfer", "2023-05-02", 1683021600L, null, null, null, 0.0, 0.0),
    ("quiet", null, "list", "2023-05-03", 1683108000L, null, null, null, 0.0, 0.0),
    ("quiet", "7", "mint", "2023-05-03", 1683108100L, "0xb9", null, "0xb9", 0.0, 0.0),
    ("quiet", "7", "transfer", "2023-05-04", 1683194400L, null, "0xb9", null, 0.0, 0.0),
    (null, "8", "sale", "2023-05-02", 1683021700L, "0xb1", "0xs2", "0xb1", 5.0, 5.0),
    ("azuki", "9", "sale", "2023-05-01", 1682937000L, "0xb1", "0xs2", "0xb1", 10.0, 10.0),
    ("azuki", "9", "sale", "2023-05-02", 1683021800L, "0xb2", "0xb1", "0xb2", 12.0, 12.0),
    ("azuki", "9", "sale", "2023-05-02", 1683021900L, "0xb2", "0xb1", "0xb2", 14.0, 14.0)))

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private object Plans extends AdaptiveSparkPlanHelper {
    def expands(df: DataFrame): Seq[SparkPlan] =
      collect(df.queryExecution.executedPlan) { case e: ExpandExec => e }
    def joins(df: DataFrame): Seq[SparkPlan] =
      collect(df.queryExecution.executedPlan) { case j: BaseJoinExec => j }
  }

  test("dailyCollectionStats: one row per (collection, date), fused pivot + price stats") {
    val daily = EventAggregator.dailyCollectionStats(clean)
    val r = daily.where(col("collection") === "bayc" &&
      col("event_date") === Date.valueOf("2023-05-01")).head()
    assert(r.getAs[Long]("event_count") === 3)
    assert(r.getAs[Long]("sale_count") === 2)
    assert(r.getAs[Long]("mint_count") === 1)
    assert(r.getAs[Long]("transfer_count") === 0)
    assert(r.getAs[Double]("volume_eth") === 8.0)
    assert(r.getAs[Double]("avg_price_eth") === 4.0)
    assert(r.getAs[Double]("median_price_eth") === 4.0)
    assert(r.getAs[Long]("unique_buyers") === 2)
  }

  test("tokenStats: mint date, last trade via max_by, volumes") {
    val tok = EventAggregator.tokenStats(clean)
    val r = tok.where(col("token_id") === "1").head()
    assert(r.getAs[Long]("event_count") === 3)
    assert(r.getAs[Date]("first_mint_date") === Date.valueOf("2023-05-01"))
    assert(r.getAs[Date]("last_trade_date") === Date.valueOf("2023-05-02"))
    assert(r.getAs[Double]("last_trade_price_eth") === 4.0)
    assert(r.getAs[Double]("total_volume_eth") === 6.0)
    val t2 = tok.where(col("token_id") === "2").head()
    assert(t2.getAs[Date]("first_mint_date") === null)
  }

  test("collectionSummary quartiles over priced events") {
    val s = EventAggregator.collectionSummary(clean)
    val r = s.where(col("collection") === "bayc").head()
    assert(r.getAs[Long]("priced_events") === 3)
    assert(r.getAs[Double]("median_price_eth") === 4.0)
    assert(r.getAs[Double]("p25_price_eth") === 3.0)
    assert(r.getAs[Double]("p75_price_eth") === 5.0)
  }

  test("walletDimension: full outer + horizontal min/max + HAVING") {
    val w = EventAggregator.walletDimension(clean)
    // 0xb1 buys 3× (mint, bayc sale, azuki sale) and sells once (05-02)
    val b1 = w.where(col("wallet_address") === "0xb1").head()
    assert(b1.getAs[Long]("buy_count") === 3)
    assert(b1.getAs[Long]("sell_count") === 1)
    assert(b1.getAs[Long]("total_transactions") === 4)
    assert(b1.getAs[Date]("first_activity_date") === Date.valueOf("2023-05-01"))
    assert(b1.getAs[Date]("last_activity_date") === Date.valueOf("2023-05-02"))
    // 0xs2 only sells — buy side nulls coalesced to 0
    val s2 = w.where(col("wallet_address") === "0xs2").head()
    assert(s2.getAs[Long]("buy_count") === 0)
    assert(s2.getAs[Long]("sell_count") === 1)
    assert(s2.getAs[Date]("first_activity_date") === Date.valueOf("2023-05-01"))
    // HAVING filter
    assert(EventAggregator.walletDimension(clean, minTransactions = 3)
      .count() === 1)
  }

  test("dailyGlobalSeries: strict 7-day rolling mean is null before 7 rows") {
    val g = EventAggregator.dailyGlobalSeries(clean)
    assert(g.where(col("rolling_avg_7").isNotNull).count() === 0)
    assert(g.count() === 3)
  }

  test("every unique_* column equals countDistinct, as a non-null long") {
    def check(out: DataFrame, keys: Seq[String],
        counts: Seq[(String, String)]): Unit = {
      val aggs = counts.map { case (c, name) => countDistinct(col(c)).as(name) }
      val reference = edges.groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val names = keys ++ counts.map(_._2)
      assert(sorted(out.select(names.map(col): _*)) === sorted(reference),
        s"distinct counts over ${keys.mkString(", ")}")
      counts.foreach { case (_, name) =>
        val f = out.schema(name)
        assert(f.dataType === LongType && !f.nullable, s"$name: $f")
      }
    }
    check(EventAggregator.dailyCollectionStats(edges),
      Seq("collection", "event_date"), Seq("buyer" -> "unique_buyers",
        "seller" -> "unique_sellers", "token_id" -> "unique_tokens"))
    check(EventAggregator.tokenStats(edges),
      Seq("collection", "token_id", "contract_address"),
      Seq("to_address" -> "unique_owners"))
    check(EventAggregator.collectionSummaryBase(edges), Seq("collection"),
      Seq("token_id" -> "unique_tokens", "buyer" -> "unique_buyers"))
    check(EventAggregator.dailyGlobalSeries(edges), Seq("event_date"),
      Seq("buyer" -> "unique_buyers"))
    // the wallet grain's count is the larger of its two sides
    def side(c: String) = edges.where(col(c).isNotNull && col(c) =!= "")
      .groupBy(col(c).as("wallet_address"))
      .agg(countDistinct(col("collection")).as(s"${c}_n"))
    val wallets = side("buyer").join(side("seller"), Seq("wallet_address"),
        "full_outer")
      .select(col("wallet_address"), greatest(coalesce(col("buyer_n"), lit(0L)),
        coalesce(col("seller_n"), lit(0L))).as("unique_collections"))
    assert(sorted(EventAggregator.walletDimension(edges)
      .select("wallet_address", "unique_collections")) === sorted(wallets))
    // the fixture's planted all-null groups count 0, not null
    val daily = EventAggregator.dailyCollectionStats(edges)
    assert(daily.where(col("collection") === "bayc" &&
      col("event_date") === Date.valueOf("2023-05-02"))
      .head().getAs[Long]("unique_buyers") === 0L)
    assert(EventAggregator.tokenStats(edges).where(col("token_id") === "2")
      .head().getAs[Long]("unique_owners") === 0L)
  }

  test("collectionSummary == base + separate quartile aggregate, left-joined") {
    val priced = col("price_total_eth") > 0
    val quartiles = edges.where(priced).groupBy(col("collection").as("q_coll"))
      .agg(
        percentile(col("price_total_eth"), lit(0.25)).as("p25_price_eth"),
        percentile(col("price_total_eth"), lit(0.5)).as("median_price_eth"),
        percentile(col("price_total_eth"), lit(0.75)).as("p75_price_eth"))
    val summary = EventAggregator.collectionSummary(edges)
    val base = EventAggregator.collectionSummaryBase(edges)
      .drop("price_quartiles", "contract_address")
    // null-safe: the null collection gets its quartiles like every other
    // column of its row (an equi-join on the key would lose them)
    val joined = base
      .join(quartiles, base("collection") <=> col("q_coll"), "left")
      .select(summary.columns.map(col): _*)
    assert(summary.schema.map(f => f.name -> f.dataType) ===
      joined.schema.map(f => f.name -> f.dataType))
    assert(sorted(summary) === sorted(joined))
    val quiet = summary.where(col("collection") === "quiet").head()
    assert(quiet.getAs[Long]("priced_events") === 0L)
    Seq("p25_price_eth", "median_price_eth", "p75_price_eth").foreach(c =>
      assert(quiet.isNullAt(quiet.fieldIndex(c)), c))
    assert(summary.where(col("collection").isNull).head()
      .getAs[Double]("median_price_eth") === 5.0)
    val azuki = summary.where(col("collection") === "azuki").head()
    assert(azuki.getAs[Double]("p25_price_eth") === 11.0)
    assert(azuki.getAs[Double]("median_price_eth") === 12.0)
    assert(azuki.getAs[Double]("p75_price_eth") === 13.0)
  }

  test("plan shape: no Expand in the E1 aggregates, no join in the summary") {
    Seq(
      "daily" -> EventAggregator.dailyCollectionStats(edges),
      "tokens" -> EventAggregator.tokenStats(edges),
      "summary base" -> EventAggregator.collectionSummaryBase(edges),
      "summary" -> EventAggregator.collectionSummary(edges)
    ).foreach { case (name, df) =>
      assert(Plans.expands(df).isEmpty, s"$name plans an Expand")
    }
    assert(Plans.joins(EventAggregator.collectionSummary(edges)).isEmpty)
    // the check sees an Expand where one is planned: the countDistinct
    // form of the daily aggregate has one
    val withDistinct = edges.groupBy(col("collection"), col("event_date"))
      .agg(countDistinct(col("buyer")), countDistinct(col("seller")))
    assert(Plans.expands(withDistinct).nonEmpty)
  }
}
