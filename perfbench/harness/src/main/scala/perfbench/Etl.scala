package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.storage.StorageLevel

import graft.etl.{DataValidator, EventAggregator, EventCleaner,
  OpenSeaPipeline, Schemas}
import graft.sources.{Readers, Writers}

/** The E1 ETL over a raw CSV corpus: an operation is one full
  * `OpenSeaPipeline.run` that writes its real Parquet outputs and
  * `metrics.json`. A traced pass adds one `layers` operation that calls
  * each public source and ETL function on its own, in pipeline order,
  * each with a materialized output.
  */
final class Etl(corpus: String, warmup: String, work: String)
    extends Workload {

  private def config(out: String) =
    OpenSeaPipeline.Config(rawDataDir = corpus, cleanBaseDir = out)

  /** RunPipeline's warmup: the same pipeline over the same files cut to
    * their first rows, so every plan, and its generated code, is the one
    * the timed passes run.
    */
  def setup(spark: SparkSession, tag: String): Unit =
    OpenSeaPipeline.run(spark,
      config(s"$work/out/$tag").copy(rawDataDir = warmup))

  /** Each pass is checked on its own outputs, after the run. */
  def setupAndCheck(spark: SparkSession, tag: String): Seq[Map[String, Any]] = {
    setup(spark, tag)
    Nil
  }

  def pass(spark: SparkSession, index: Int,
      trace: Option[(Tracer, SparkCounters)]): Seq[Map[String, Any]] =
    trace match {
      case None => Seq(pipeline(spark, index))
      case Some((tracer, counters)) =>
        val before = counters.snapshot()
        val op = tracer.span("etl pass")(pipeline(spark, index))
        Seq(op + ("spark" -> (counters.snapshot() - before).toMap),
          layers(spark, index, tracer))
    }

  private def pipeline(spark: SparkSession, index: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    try {
      val r = OpenSeaPipeline.run(spark, config(s"$work/out/pass$index"))
      val rep = r.report
      Map("name" -> "pipeline", "ok" -> true,
        "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "out_dir" -> r.outputDir,
        "report" -> Map(
          "total_rows" -> rep.totalRows,
          "missing_columns" -> rep.missingColumns,
          "null_counts" -> rep.nullCounts,
          "duplicate_keys" -> rep.duplicateKeyCount,
          "invalid_event_types" -> rep.invalidEventTypes,
          "invalid_addresses" -> rep.invalidAddressCounts,
          "negative_prices" -> rep.negativePriceCount,
          "price_mismatches" -> rep.priceMismatchCount,
          "out_of_range_timestamps" -> rep.outOfRangeTimestampCount),
        "metrics" -> r.metrics,
        "phases" -> r.phases.toMap)
    } catch {
      case NonFatal(e) => Map("name" -> "pipeline", "ok" -> false,
        "error" -> Workload.error(e), "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Each layer call timed on its own, with its output materialized. */
  private def layers(spark: SparkSession, index: Int,
      tracer: Tracer): Map[String, Any] = {
    val times = mutable.LinkedHashMap[String, Double]()
    def layer[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = tracer.span(name)(f)
      times(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val out = s"$work/out/layers$index"
    val t0 = System.nanoTime()
    try tracer.span("etl layers") {
      val paths = new java.io.File(corpus).listFiles()
        .filter(_.getName.endsWith(".csv")).map(_.getPath).sorted.toSeq
      val raw = Readers.readCsvUnionByName(spark, paths)
      layer("sources.read_csv")(Materialize(raw))
      val auditCols = (Schemas.dedupKey ++ Seq("event_type") ++
        DataValidator.rowLocalAuditCols(raw)).distinct
        .filter(raw.columns.contains)
      val (rowLocal, _, _) = layer("etl.validate")(
        DataValidator.allShuffleAudits(raw.select(auditCols.map(col): _*)))
      val clean = EventCleaner.clean(raw).persist(StorageLevel.MEMORY_AND_DISK)
      layer("etl.clean")(Materialize(clean))
      layer("sources.write_parquet")(Writers.writeParquet(clean,
        s"$out/minimal_events.parquet"))
      val fact = clean.select(Seq("collection", "event_date", "event_type",
        "buyer", "seller", "token_id", "price_total_eth", "price_each_eth",
        "contract_address", "to_address", "event_timestamp", "rarity_rank",
        "rarity_score").filter(clean.columns.contains).map(col): _*)
      layer("etl.aggregate_daily")(
        Materialize(EventAggregator.dailyCollectionStats(fact)))
      layer("etl.aggregate_tokens")(
        Materialize(EventAggregator.tokenStats(fact)))
      layer("etl.aggregate_summary")(
        Materialize(EventAggregator.collectionSummary(fact)))
      layer("etl.aggregate_collection_dim")(
        Materialize(EventAggregator.collectionDimension(fact)))
      val metrics = layer("etl.metrics")(
        DataValidator.qualityMetricsFromParts(
          DataValidator.metricsPairs(fact),
          EventAggregator.collectionSummaryBase(fact).collect(),
          fact.agg(countDistinct(col("token_id"))).head().getLong(0)))
      clean.unpersist(blocking = true)
      val written = Files.walk(Paths.get(out)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      Map("name" -> "layers", "ok" -> true,
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "times_s" -> times,
        "rows_in" -> rowLocal("__total"), "rows_out" -> metrics("total_rows"),
        "bytes_written" -> written)
    } catch {
      case NonFatal(e) => Map("name" -> "layers", "ok" -> false,
        "error" -> Workload.error(e), "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
  }
}
