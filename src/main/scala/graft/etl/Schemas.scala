package graft.etl

import org.apache.spark.sql.types._

/** Canonical schemas and domain constants (SURVEY §1).
  *
  * Mirrors the reference's declared schemas
  * (opensea_pipeline/pipeline/src/schemas.py:16-95) and constants
  * (schemas.py:173-179), retyped per SURVEY §1.2: Utf8→String,
  * Int64→Long, Float64→Double, Date→Date, Datetime→Timestamp (session
  * timezone pinned UTC).
  */
object Schemas {

  /** Raw event CSV columns (17 expected + price_each arrives dirty as a
    * string). Used for *validation* (column presence), not enforcement —
    * ingest stays permissive.
    */
  val rawEventColumns: Seq[String] = Seq(
    "chain", "collection", "identifier", "event_type", "time_utc",
    "timestamp", "tx", "seller", "buyer", "from_address", "to_address",
    "quantity", "price_total", "currency_symbol", "contract", "token_id",
    "price_each")

  /** Optional metadata columns added as typed nulls when absent
    * (reference schemas.py:37-45, clean_events.py:255-263).
    */
  val optionalColumns: Map[String, DataType] = Map(
    "rarity_rank" -> LongType,
    "rarity_score" -> DoubleType)

  /** Clean minimal-event schema — 20 columns (schemas.py:71-95). */
  val minimalEventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("chain", StringType),
    StructField("collection", StringType),
    StructField("token_id", StringType),
    StructField("event_type", StringType),
    StructField("event_date", DateType),
    StructField("event_timestamp", TimestampType),
    StructField("unix_timestamp", LongType),
    StructField("tx_hash", StringType),
    StructField("seller", StringType),
    StructField("buyer", StringType),
    StructField("from_address", StringType),
    StructField("to_address", StringType),
    StructField("quantity", LongType),
    StructField("price_total_eth", DoubleType),
    StructField("price_each_eth", DoubleType),
    StructField("currency_symbol", StringType),
    StructField("contract_address", StringType),
    StructField("rarity_rank", LongType),
    StructField("rarity_score", DoubleType)))

  /** Event-type domain (schemas.py:173). */
  val validEventTypes: Seq[String] = Seq(
    "mint", "sale", "transfer", "list", "cancel_list", "offer",
    "cancel_offer")

  /** Raw → canonical event-type map (clean_events.py:197-207). */
  val eventTypeCanonical: Map[String, String] = Map(
    "mint" -> "mint", "sale" -> "sale", "transfer" -> "transfer",
    "list" -> "list", "listing" -> "list",
    "cancel_list" -> "cancel_list", "cancel_listing" -> "cancel_list",
    "offer" -> "offer", "cancel_offer" -> "cancel_offer",
    "bid" -> "offer", "cancel_bid" -> "cancel_offer")

  /** Mint marker (schemas.py:179). */
  val nullAddress: String = "0x" + "0" * 40

  /** ETH address format (validate.py:141-146). Ends in `\z`, not `$`:
    * the reference's regex engine (Rust, as in Polars) matches `$` only
    * at the end of the text, while Java's `$` also matches before a
    * final line terminator, which would pass `"0x" + 40 hex + "\n"`.
    */
  val addressRegex: String = "^0x[a-fA-F0-9]{40}\\z"

  /** Event uniqueness key (clean_events.py:225). */
  val dedupKey: Seq[String] = Seq("tx", "token_id", "event_type", "timestamp")

  /** Plausible unix-seconds range for event timestamps
    * (validate.py:210-219): 2015-01-01 .. 2033-05-18.
    */
  val minUnixTs: Long = 1420070400L
  val maxUnixTs: Long = 2000000000L

  /** Expert market-regime date ranges
    * (prepare_visual_market_data.py:197-212) as a broadcastable dim.
    */
  case class Regime(label: String, start: String, end: String)
  val marketRegimes: Seq[Regime] = Seq(
    Regime("discovery", "2021-01-01", "2021-07-31"),
    Regime("bull", "2021-08-01", "2022-04-30"),
    Regime("crash", "2022-05-01", "2022-12-31"),
    Regime("bear", "2023-01-01", "2023-12-31"),
    Regime("uncertain", "2024-01-01", "2026-12-31"))
}
