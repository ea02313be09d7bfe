package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Schemas.validEventTypes

/** Star-schema aggregate builders (SURVEY §2.7 A1-A11; reference
  * opensea_pipeline/pipeline/src/aggregate.py).
  *
  * Scale notes versus the reference:
  *  - The reference computes the daily pivot as 3 separate frames joined
  *    back (aggregate.py:60-85). Here the per-type counts are conditional
  *    sums inside the SAME aggregate as the daily stats — one shuffle on
  *    (collection, event_date) instead of four.
  *  - `first()`/`last()` (order-dependent in Polars) become
  *    `min`/`max_by(ts)` — deterministic under any partitioning
  *    (SURVEY §7.4 risk 3).
  *  - Every aggregate is ONE partial+final aggregation: the exact
  *    distinct counts are per-group sets ([[distinctCount]]), so no
  *    aggregate plans an Expand, and the exact percentiles ride in the
  *    same object aggregate. Distinct counts stay exact (risk 7).
  */
object EventAggregator {

  /** Exact distinct count of `c` within each group, as the size of the
    * group's set of non-null values. Same value and type as
    * `countDistinct(c)` (non-null `long`; 0 for a group whose values are
    * all null), but an object aggregate instead of a rewrite: Spark
    * plans a grouped `countDistinct` as a second aggregation round keyed
    * on (group, value), one more shuffle, and with two or more distinct
    * columns also an Expand that copies every row once per distinct
    * column plus one. Bound: the buffer holds one group's distinct values —
    * per (collection, day), per token, per collection, per wallet or per
    * day at the grains below — never the whole column. An ungrouped
    * distinct (the metrics' total token count) has no such bound and
    * keeps `countDistinct`.
    */
  private def distinctCount(c: String): Column =
    size(collect_set(col(c))).cast("long")

  /** A1+A2+A7+J1/J2 — daily collection stats: activity counts, distinct
    * actors, per-type event counts (pivot via conditional aggregation)
    * and priced-only price stats, in ONE aggregate.
    *
    * The exact median rides in the same object aggregate as the
    * distinct-value sets (the reference's J1 shape joins it back from a
    * second aggregation): percentile ignores the nulls the when-filter
    * produces, so a group with no priced rows gets a null median, as
    * the joined form does. The catalog's a11/a1b split their percentiles
    * out of a `countDistinct` aggregate because of its Expand
    * (`Queries.splitAgg`); with [[distinctCount]] there is no Expand to
    * split from.
    */
  def dailyCollectionStats(events: DataFrame): DataFrame = {
    val priced = col("price_total_eth") > 0
    val typeCounts = validEventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"${t}_count"))
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      distinctCount("buyer").as("unique_buyers"),
      distinctCount("seller").as("unique_sellers"),
      distinctCount("token_id").as("unique_tokens")) ++ typeCounts ++ Seq(
      sum(when(priced, col("price_total_eth"))).as("volume_eth"),
      avg(when(priced, col("price_total_eth"))).as("avg_price_eth"),
      min(when(priced, col("price_total_eth"))).as("min_price_eth"),
      max(when(priced, col("price_total_eth"))).as("max_price_eth"),
      percentile(when(priced, col("price_total_eth")), lit(0.5))
        .as("median_price_eth"))
    events.groupBy(col("collection"), col("event_date"))
      .agg(aggs.head, aggs.tail: _*)
      .na.fill(0.0, Seq("volume_eth"))
  }

  /** A3+A4+A5/J3 fused — token stats: trade counts/volume plus first
    * mint date and last trade price, one shuffle on the token key
    * (the reference runs three joins — aggregate.py:96-134).
    */
  def tokenStats(events: DataFrame): DataFrame = {
    val isTrade = col("event_type").isin("sale", "transfer")
    val priced = col("price_each_eth") > 0
    events.groupBy(col("collection"), col("token_id"),
        col("contract_address"))
      .agg(
        count(lit(1)).as("event_count"),
        sum(when(col("event_type") === "sale", col("price_total_eth"))
          .otherwise(0.0)).as("total_volume_eth"),
        avg(when(col("event_type") === "sale" && priced,
          col("price_each_eth"))).as("avg_sale_price_eth"),
        distinctCount("to_address").as("unique_owners"),
        min(when(col("event_type") === "mint", col("event_date")))
          .as("first_mint_date"),
        max(when(isTrade && priced, col("event_date"))).as("last_trade_date"),
        max_by(when(isTrade && priced, col("price_each_eth")),
          when(isTrade && priced, col("event_timestamp")))
          .as("last_trade_price_eth"),
        min(col("rarity_rank")).as("rarity_rank"),
        min(col("rarity_score")).as("rarity_score"))
  }

  /** Approximate fast mode of the daily stats (SURVEY §7.4 risk 7): HLL
    * distinct counts + approx percentile in ONE aggregate — no expand,
    * no object aggregation, mergeable sketches all the way. The exact
    * form stays the oracle-checked default; this is the knob for
    * dashboard-grade queries at 100 TB where ±2% beats a second shuffle.
    */
  def dailyCollectionStatsApprox(events: DataFrame): DataFrame = {
    val priced = col("price_total_eth") > 0
    val typeCounts = validEventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"${t}_count"))
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      approx_count_distinct(col("buyer")).as("unique_buyers"),
      approx_count_distinct(col("seller")).as("unique_sellers"),
      approx_count_distinct(col("token_id")).as("unique_tokens")) ++
      typeCounts ++ Seq(
      sum(when(priced, col("price_total_eth"))).as("volume_eth"),
      avg(when(priced, col("price_total_eth"))).as("avg_price_eth"),
      approx_percentile(when(priced, col("price_total_eth")), lit(0.5),
        lit(1000)).as("median_price_eth"),
      min(when(priced, col("price_total_eth"))).as("min_price_eth"),
      max(when(priced, col("price_total_eth"))).as("max_price_eth"))
    events.groupBy(col("collection"), col("event_date"))
      .agg(aggs.head, aggs.tail: _*)
      .na.fill(0.0, Seq("volume_eth"))
  }

  /** Shared per-collection grain feeding BOTH the collection dimension
    * and the collection summary (round 7 — E1 fan-out shave): both are
    * pure projections of this one aggregate, so the pipeline persists
    * it (|collections| rows) and derives both outputs, plus the metrics'
    * global fields, from it. The single-output entry points below
    * delegate through it, so there is exactly one definition of every
    * aggregate. `price_quartiles` is the exact 25/50/75th percentile of
    * the priced events, one array-valued buffer per collection (null
    * for a collection without priced events).
    */
  def collectionSummaryBase(events: DataFrame): DataFrame = {
    val priced = col("price_total_eth") > 0
    events.groupBy(col("collection"))
      .agg(
        count(lit(1)).as("total_events"),
        distinctCount("token_id").as("unique_tokens"),
        distinctCount("buyer").as("unique_buyers"),
        min(col("event_date")).as("first_date"),
        max(col("event_date")).as("last_date"),
        sum(when(priced, 1L).otherwise(0L)).as("priced_events"),
        sum(when(priced, col("price_total_eth"))).as("volume_eth"),
        avg(when(priced, col("price_total_eth"))).as("avg_price_eth"),
        min(when(priced, col("price_total_eth"))).as("min_price_eth"),
        max(when(priced, col("price_total_eth"))).as("max_price_eth"),
        percentile(when(priced, col("price_total_eth")),
          array(lit(0.25), lit(0.5), lit(0.75))).as("price_quartiles"),
        min(col("contract_address")).as("contract_address"))
  }

  /** A6 — collection dimension, as a projection of [[collectionSummaryBase]]. */
  def collectionDimensionFromBase(base: DataFrame): DataFrame =
    base.select(col("collection"), col("contract_address"),
      col("first_date").as("first_seen_date"),
      col("last_date").as("last_seen_date"),
      col("unique_tokens"), col("total_events"))

  /** A6 — collection dimension. */
  def collectionDimension(events: DataFrame): DataFrame =
    collectionDimensionFromBase(collectionSummaryBase(events))

  /** A11 — collection summary, as a projection of
    * [[collectionSummaryBase]]: its quartile array spread into the
    * p25/median/p75 columns.
    */
  def collectionSummaryFromBase(base: DataFrame): DataFrame =
    base.select(col("collection"), col("total_events"),
      col("unique_tokens"), col("unique_buyers"), col("first_date"),
      col("last_date"), col("priced_events"), col("volume_eth"),
      col("avg_price_eth"),
      col("price_quartiles")(0).as("p25_price_eth"),
      col("price_quartiles")(1).as("median_price_eth"),
      col("price_quartiles")(2).as("p75_price_eth"),
      col("min_price_eth"), col("max_price_eth"))

  /** A11 — collection summary with quartiles over priced events. */
  def collectionSummary(events: DataFrame): DataFrame =
    collectionSummaryFromBase(collectionSummaryBase(events))

  /** A8+J4+A9+A10 — wallet dimension: buyer and seller aggregates
    * full-outer-joined on the wallet, horizontal min/max for activity
    * bounds, HAVING-style min-transactions filter.
    */
  def walletDimension(events: DataFrame, minTransactions: Long = 1): DataFrame = {
    def side(addrCol: String, prefix: String) =
      events.where(col(addrCol).isNotNull && col(addrCol) =!= "")
        .groupBy(col(addrCol).as("wallet_address"))
        .agg(
          count(lit(1)).as(s"${prefix}_count"),
          sum(col("price_total_eth")).as(s"${prefix}_volume_eth"),
          min(col("event_date")).as(s"${prefix}_first_date"),
          max(col("event_date")).as(s"${prefix}_last_date"),
          distinctCount("collection").as(s"${prefix}_collections"))
    val buys = side("buyer", "buy")
    val sells = side("seller", "sell")
    buys.join(sells, Seq("wallet_address"), "full_outer")
      .na.fill(0L, Seq("buy_count", "sell_count", "buy_collections",
        "sell_collections"))
      .na.fill(0.0, Seq("buy_volume_eth", "sell_volume_eth"))
      .withColumn("total_transactions", col("buy_count") + col("sell_count"))
      .withColumn("first_activity_date",
        least(col("buy_first_date"), col("sell_first_date")))
      .withColumn("last_activity_date",
        greatest(col("buy_last_date"), col("sell_last_date")))
      .withColumn("unique_collections",
        greatest(col("buy_collections"), col("sell_collections")))
      .where(col("total_transactions") >= minTransactions)
      .select("wallet_address", "buy_count", "sell_count",
        "total_transactions", "buy_volume_eth", "sell_volume_eth",
        "first_activity_date", "last_activity_date", "unique_collections")
  }

  /** A12+W2 — global daily series with the strict 7-day rolling mean. */
  def dailyGlobalSeries(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_date"))
      .agg(
        count(lit(1)).as("event_count"),
        sum(when(col("price_total_eth") > 0, col("price_total_eth")))
          .as("volume_eth"),
        distinctCount("buyer").as("unique_buyers"))
    graft.operators.TimeSeries.rollingMeanStrict(
      daily, "event_date", "event_count", 7)
  }
}
