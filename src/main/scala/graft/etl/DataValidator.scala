package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Runtime data-quality audits (SURVEY §2.5 V2-V9; reference
  * opensea_pipeline/pipeline/src/validate.py:18-282).
  *
  * Every audit is an aggregate query collected to the driver only for
  * report rendering — the heavy lifting (scans, conditional sums) is
  * distributed. The report mirrors the reference's _run.log content.
  */
object DataValidator {

  import Schemas._

  case class ValidationReport(
      totalRows: Long,
      missingColumns: Seq[String],
      nullCounts: Map[String, Long],
      duplicateKeyCount: Long,
      invalidEventTypes: Map[String, Long],
      invalidAddressCounts: Map[String, Long],
      negativePriceCount: Long,
      priceMismatchCount: Long,
      outOfRangeTimestampCount: Long) {
    def render: String = {
      val sb = new StringBuilder
      sb.append(s"rows: $totalRows\n")
      sb.append(s"missing columns: ${missingColumns.mkString(",")}\n")
      sb.append(s"null counts: ${nullCounts.map { case (k, v) => s"$k=$v" }.mkString(" ")}\n")
      sb.append(s"duplicate keys: $duplicateKeyCount\n")
      sb.append(s"invalid event types: ${invalidEventTypes.map { case (k, v) => s"$k=$v" }.mkString(" ")}\n")
      sb.append(s"invalid addresses: ${invalidAddressCounts.map { case (k, v) => s"$k=$v" }.mkString(" ")}\n")
      sb.append(s"negative prices: $negativePriceCount\n")
      sb.append(s"price mismatches: $priceMismatchCount\n")
      sb.append(s"out-of-range timestamps: $outOfRangeTimestampCount\n")
      sb.toString
    }
  }

  /** V3 — schema/column-presence check (driver-side set diff). */
  def missingColumns(df: DataFrame): Seq[String] =
    rawEventColumns.filterNot(df.columns.toSet)

  /** V2 — duplicate detection on the event key. */
  def duplicateKeyCount(df: DataFrame): Long = {
    val present = dedupKey.filter(df.columns.contains)
    df.groupBy(present.map(col): _*).count()
      .where(col("count") > 1).count()
  }

  /** V5 — event-type whitelist audit: counts of values outside the
    * domain (after lower/trim normalization).
    */
  def invalidEventTypes(df: DataFrame): Map[String, Long] =
    df.select(lower(trim(col("event_type"))).as("event_type"))
      .where(!col("event_type").isin(validEventTypes: _*) ||
        col("event_type").isNull)
      .groupBy(col("event_type")).count()
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1))
      .toMap

  private def presentCriticalCols(df: DataFrame): Seq[String] =
    Seq("collection", "event_type", "timestamp", "tx", "token_id")
      .filter(df.columns.contains)

  private def presentAddrCols(df: DataFrame): Seq[String] =
    Seq("seller", "buyer", "from_address", "to_address")
      .filter(df.columns.contains)

  /** Raw columns the row-local audit reads — the pipeline prunes its
    * shared audit projection to exactly these plus the dedup key.
    */
  def rowLocalAuditCols(df: DataFrame): Seq[String] =
    (presentCriticalCols(df) ++ presentAddrCols(df) ++
      Seq("price_each", "price_total", "quantity", "timestamp"))
      .distinct.filter(df.columns.contains)

  /** The fused row-local audit (nulls, address formats, prices, timestamp
    * range, total count) as named aggregate expressions. All are plain
    * conditional sums — no distinct, no percentile — so they fuse into a
    * single pass: the pipeline runs them inside [[allShuffleAudits]]
    * over its persisted audit projection, so all three audits together
    * cost ONE pruned parse of the raw CSV (at 100 TB the difference
    * between one pass and four).
    */
  def rowLocalAuditExprs(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val each = trim(col("price_each").cast("string")).try_cast("double")
    val total = col("price_total").try_cast("double")
    val expected = total /
      when(col("quantity").try_cast("long") <= 0, 1L)
        .otherwise(col("quantity").try_cast("long"))
    // address validity without java.util.regex: Schemas.addressRegex
    // (^0x[0-9a-fA-F]{40}\z) ⟺ length 42 ∧ starts "0x" ∧ stripping hex
    // digits leaves exactly "x". Equivalent to rlike on that regex, whose
    // \z (end of text, like the reference's `$`) rejects a trailing line
    // terminator just as the length check does; a regex ending in Java's
    // `$` would accept one. translate() is a per-char table lookup —
    // ~5× cheaper than rlike on the 1.5M-row anchor.
    def invalidAddr(c: String) = {
      val t = trim(col(c))
      col(c).isNotNull && t =!= "" &&
        !(length(t) === 42 && t.startsWith("0x") &&
          translate(t, "0123456789abcdefABCDEF", "") === "x")
    }
    Seq(count(lit(1)).as("__total")) ++
      presentCriticalCols(df).map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c")) ++
      presentAddrCols(df).map(c =>
        sum(when(invalidAddr(c), 1L).otherwise(0L)).as(s"__addr_$c")) ++
      Seq(
        sum(when(total < 0, 1L).otherwise(0L)).as("__neg"),
        sum(when(each.isNotNull &&
          abs(each - expected) > abs(expected) * 1e-9 + 1e-12, 1L)
          .otherwise(0L)).as("__mismatch"),
        sum(when(col("timestamp").try_cast("long") < minUnixTs ||
          col("timestamp").try_cast("long") >= maxUnixTs, 1L).otherwise(0L))
          .as("__ts_range"))
  }

  /** Row-local audit battery AND the V5 event-type whitelist audit in
    * ONE job (round 7 — E1 fan-out shave): group the row-local
    * conditional sums by the normalized INVALID event value (null for
    * rows whose event type is in the whitelist), then roll both results
    * up driver-side. The grouping key has cardinality 1 + |distinct
    * invalid values| (a handful), so the shuffle moves a few
    * map-side-combined rows and the job's cost stays the scan — which
    * previously ran TWICE, once for the plain aggregate and once for
    * [[invalidEventTypes]]'s groupBy. Returns the row-local metric
    * getter (summed across groups) and the invalid-event-type count map
    * (each invalid group's `__total`).
    */
  def rowLocalWithEventTypes(df: DataFrame)
      : (String => Long, Map[String, Long]) = {
    if (!df.columns.contains("event_type")) {
      val exprs = rowLocalAuditExprs(df)
      val row = df.select(exprs: _*).head()
      return (name => row.getAs[Long](name), Map.empty)
    }
    val evtNorm = lower(trim(col("event_type")))
    val invalidEvt = when(
      !evtNorm.isin(validEventTypes: _*) || evtNorm.isNull,
      coalesce(evtNorm, lit("<null>")))
    val exprs = rowLocalAuditExprs(df)
    val rows = df.groupBy(invalidEvt.as("__invalid_evt"))
      .agg(exprs.head, exprs.tail: _*).collect()
    val metricNames = rows.headOption.map(_.schema.fieldNames.drop(1).toSeq)
      .getOrElse(Seq.empty)
    val totals: Map[String, Long] = metricNames.map(n =>
      n -> rows.map(_.getAs[Long](n)).sum).toMap
    val evtCounts = rows.filter(_.get(0) != null)
      .map(r => r.getString(0) -> r.getAs[Long]("__total")).toMap
    (name => totals.getOrElse(name, 0L), evtCounts)
  }

  /** ALL THREE shuffle audits — row-local battery, V5 event-type
    * whitelist, V2 duplicate-key count — in ONE Spark action (round 8 —
    * the last E1 fan-out fusion): the dup-key aggregate
    * (groupBy(dedupKey) -> count>1 -> count) can't share the row-local
    * job's grouping key, but it CAN share its ACTION — `unionByName`
    * over the two aggregate subtrees (the single dup-count row carries
    * nulls for the row-local columns and vice versa) submits one job
    * whose two independent shuffle-map stages the DAG scheduler runs
    * CONCURRENTLY, where the round-7 shape ran them sequentially
    * (4.2 s + 3.3 s of span at the 1.56M anchor). A join would NOT fuse:
    * a broadcast/NLJ build side materializes through its own eager job.
    */
  def allShuffleAudits(df: DataFrame)
      : (String => Long, Long, Map[String, Long]) = {
    val present = dedupKey.filter(df.columns.contains)
    val dupAgg = df.groupBy(present.map(col): _*).count()
      .where(col("count") > 1)
      .agg(count(lit(1)).as("__dup_keys"))
    if (!df.columns.contains("event_type")) {
      val exprs = rowLocalAuditExprs(df)
      val rows = df.select(exprs: _*)
        .unionByName(dupAgg, allowMissingColumns = true).collect()
      val rowLocal = rows.find(_.getAs[Any]("__dup_keys") == null).get
      val dup = rows.flatMap(r =>
        Option(r.getAs[Any]("__dup_keys"))).headOption
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      return (name => rowLocal.getAs[Long](name), dup, Map.empty)
    }
    val evtNorm = lower(trim(col("event_type")))
    val invalidEvt = when(
      !evtNorm.isin(validEventTypes: _*) || evtNorm.isNull,
      coalesce(evtNorm, lit("<null>")))
    val exprs = rowLocalAuditExprs(df)
    val rows = df.groupBy(invalidEvt.as("__invalid_evt"))
      .agg(exprs.head, exprs.tail: _*)
      .unionByName(dupAgg, allowMissingColumns = true)
      .collect()
    val (dupRows, auditRows) =
      rows.partition(r => r.getAs[Any]("__dup_keys") != null)
    val dup = dupRows.headOption.map(_.getAs[Long]("__dup_keys"))
      .getOrElse(0L)
    val metricNames = auditRows.headOption
      .map(_.schema.fieldNames
        .filterNot(n => n == "__dup_keys" || n == "__invalid_evt").toSeq)
      .getOrElse(Seq.empty)
    val totals: Map[String, Long] = metricNames.map(n =>
      n -> auditRows.map(_.getAs[Long](n)).sum).toMap
    val evtCounts = auditRows.filter(_.get(0) != null)
      .map(r => r.getString(0) -> r.getAs[Long]("__total")).toMap
    (name => totals.getOrElse(name, 0L), dup, evtCounts)
  }

  /** Assemble the report from already-computed pieces: the row-local
    * metrics, the duplicate-key count and the event-type counts that
    * [[allShuffleAudits]] (or [[report]]'s standalone passes) computed.
    */
  def reportFrom(df: DataFrame, metrics: String => Long,
      dupKeys: Long, invalidTypes: Map[String, Long]): ValidationReport =
    ValidationReport(
      totalRows = metrics("__total"),
      missingColumns = missingColumns(df),
      nullCounts =
        presentCriticalCols(df).map(c => c -> metrics(s"__null_$c")).toMap,
      duplicateKeyCount = dupKeys,
      invalidEventTypes = invalidTypes,
      invalidAddressCounts =
        presentAddrCols(df).map(c => c -> metrics(s"__addr_$c")).toMap,
      negativePriceCount = metrics("__neg"),
      priceMismatchCount = metrics("__mismatch"),
      outOfRangeTimestampCount = metrics("__ts_range"))

  /** Full report — the reference's generate_report (validate.py:239-282).
    *
    * All row-local audits are fused into ONE aggregate pass; only the two
    * audits that need a shuffle (duplicate keys, event-type counts) run
    * as separate jobs. OpenSeaPipeline instead runs all three in one
    * action, [[allShuffleAudits]] over a persisted projection of the
    * audit columns; this form is the tests' reference for it.
    */
  def report(df: DataFrame): ValidationReport = {
    val exprs = rowLocalAuditExprs(df)
    val row = df.select(exprs: _*).head()
    reportFrom(df, name => row.getAs[Long](name),
      duplicateKeyCount(df), invalidEventTypes(df))
  }

  /** The only metrics piece that must touch the fact frame: the
    * (collection, event_type) count grain (~10²-10³ rows) — one hash
    * aggregate, map-side combined.
    */
  def metricsPairs(clean: DataFrame): Array[org.apache.spark.sql.Row] =
    clean.groupBy(col("collection"), col("event_type")).count().collect()

  /** V9 — post-clean quality metrics, keyed and nested EXACTLY like the
    * reference's metrics.json (get_data_quality_metrics,
    * clean_events.py:292-316), assembled from already-computed grains
    * (round 12 — VERDICT r11 anchor task): every GLOBAL field is an exact roll-up of the
    * per-collection summary grain the aggregate wave computes anyway —
    * total_rows = Σ pair counts, total_collections = non-null summary
    * rows, date_range = min/max over per-collection first/last dates,
    * transactions_with_price = Σ priced_events, null_prices = total −
    * priced (exact: the cleaner coalesces price_total to 0.0 and drops
    * negatives, so price_total_eth is never null and >0 / =0 partition
    * the rows) — and total_tokens is one distinct over the token-grain
    * output (|tokens| rows, not |events|). The r11 form re-aggregated
    * the full fact frame, with a two-countDistinct expand, for numbers
    * the fan-out already knew.
    */
  def qualityMetricsFromParts(pairs: Array[org.apache.spark.sql.Row],
      summary: Array[org.apache.spark.sql.Row],
      totalTokens: Long): Map[String, Any] = {
    val totalRows = pairs.map(_.getLong(2)).sum
    // count-descending like the reference's sort('count', descending=True);
    // name ascending as the deterministic tie-break
    def rollup(key: org.apache.spark.sql.Row => String, field: String)
        : Seq[Any] =
      pairs.groupMapReduce(key)(_.getLong(2))(_ + _).toSeq
        .sortBy { case (k, n) => (-n, Option(k).getOrElse("")) }
        .map { case (k, n) =>
          Map[String, Any](field -> k, "count" -> n): Any
        }
    val eventTypes = rollup(_.getString(1), "event_type")
    val collections = rollup(_.getString(0), "collection")
    // ISO yyyy-MM-dd strings sort lexicographically = chronologically,
    // matching the r11 min(date).cast(string) exactly
    def dateStr(r: org.apache.spark.sql.Row, field: String): Option[String] =
      Option(r.getAs[java.sql.Date](field)).map(_.toString)
    val priced = summary.map(_.getAs[Long]("priced_events")).sum
    Map(
      "total_rows" -> totalRows,
      "total_collections" ->
        summary.count(_.getAs[Any]("collection") != null).toLong,
      "total_tokens" -> totalTokens,
      "date_range" -> Map[String, Any](
        "min" -> summary.flatMap(dateStr(_, "first_date")).minOption.orNull,
        "max" -> summary.flatMap(dateStr(_, "last_date")).maxOption.orNull),
      "event_types" -> eventTypes,
      "collections" -> collections,
      "null_prices" -> (totalRows - priced),
      "transactions_with_price" -> priced)
  }

  /** One referential-integrity edge of a star schema: child rows whose
    * FK has no matching parent key. The v11 FD audit checks contracts
    * WITHIN a table; this checks the contracts BETWEEN tables — the
    * audit that catches a partial dimension load or an orphaning
    * delete before a join silently drops facts (inner joins eat
    * orphans; this makes them a number on a report instead).
    *
    * One row per edge: total child rows, orphan rows (left-anti join on
    * the key — one shuffle, or a broadcast when the parent is a dim),
    * and distinct orphan key values. NULL FKs are not orphans (SQL FK
    * semantics) — they're counted separately so a null-heavy column
    * can't hide behind a zero orphan count.
    */
  def refIntegrity(label: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = parent.select(col(parentKey).as("__pk")).distinct()
    val base = child.select(col(childKey).as("__fk"))
    val orphans = base.where(col("__fk").isNotNull)
      .join(keys, col("__fk") === col("__pk"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_rows"),
        countDistinct(col("__fk")).as("n_orphan_keys"))
    base.agg(count(lit(1)).as("n_child_rows"),
        sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"))
      .crossJoin(orphans) // 1 row × 1 row
      .select(lit(label).as("fk_edge"), col("n_child_rows"),
        col("n_null_fk"), col("n_orphan_rows"), col("n_orphan_keys"),
        (col("n_orphan_rows") === 0).as("intact"))
  }
}
