package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.etl.OpenSeaPipeline

/** CLI entry point for the full ETL (the reference's `python run.py`):
  * runMain graft.RunPipeline <rawCsvDir> <cleanBaseDir> [--wallet-dim]
  * [--repeat] — runs the pipeline twice in the same JVM; the second run
  * shows the warm steady-state cost with one-time JIT/codegen excluded
  * (the long-running-cluster number).
  *
  * Cold-start warmup (on by default, `--no-warmup` to disable): before
  * the real run, the SAME pipeline executes over header+1K-row
  * truncations of the SAME csv files into a throwaway temp dir. The
  * truncated corpus has the identical schema and file count, so every
  * plan is structurally identical → Spark's generated code is the same
  * SOURCE, the CodeGenerator cache serves the real run without
  * recompiling, and the JIT has already promoted the hot loops.
  * Measured on the 1.5M-row anchor: cold main run 46 s → 13.4 s (equal
  * to the warm-rerun median on the same host), with the warmup itself
  * ~10 s. The warmup cost is DATA-INDEPENDENT (identical at 1K and 4K
  * rows/file): it is the Catalyst+Janino+C2 plan-compilation floor of
  * this JVM, i.e. the irreducible part of cold start — everything else
  * now runs at warm speed.
  */
object RunPipeline {

  /** Size of Spark's generated-class cache (static
    * `spark.sql.codegen.cache.maxEntries`, default 100). An E1 pass
    * uses more generated classes than the default keeps, so the LRU
    * evicts some within the pass and every pass — the one after the
    * warmup included — compiles those again. Measured with
    * `CodegenMetrics` on a 24 K-event `perfbench/corpus.py` corpus,
    * `local[4]` on a shared 4-vCPU host: 112 classes per cold pass;
    * 57-60 compiles per warm pass at 100, 0 at 2000.
    */
  val CodegenCacheEntries = 2000

  /** Copy header + up to `rows` data lines of each csv into a temp dir.
    * Read/write as ISO-8859-1: every byte sequence is valid in it, so a
    * stray non-UTF-8 byte in a raw CSV round-trips instead of throwing
    * MalformedInputException and killing the run before the real
    * pipeline (which reads CSVs permissively) even starts.
    */
  private def truncatedCopy(rawDir: String, rows: Int): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val dst = java.nio.file.Files.createTempDirectory("graft_warmup_raw")
    new java.io.File(rawDir).listFiles()
      .filter(_.getName.endsWith(".csv")).foreach { f =>
        val in = java.nio.file.Files.lines(f.toPath, latin1)
        try {
          val lines = in.limit(rows + 1L).iterator().asScala.toSeq
          java.nio.file.Files.write(dst.resolve(f.getName), lines.asJava,
            latin1)
        } finally in.close()
      }
    dst
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunPipeline <rawCsvDir> <cleanBaseDir> [--wallet-dim] " +
        "[--repeat [N]] [--no-warmup]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("opensea-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.scheduler.mode", "FAIR")
      // AQE default-off for this single-node CLI: at the 1.5M-row anchor
      // its per-stage re-plan round-trips on the driver cost ~5 s across
      // the 7-job fan-out and buy nothing (32 fixed partitions, no skew).
      // Cluster deployments at real scale should run with AQE on (skew
      // joins, partition coalescing) — the plans themselves don't care.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val config = OpenSeaPipeline.Config(
      rawDataDir = args(0),
      cleanBaseDir = args(1),
      createWalletDim = args.contains("--wallet-dim"))
    if (!args.contains("--no-warmup")) try {
      val w0 = System.nanoTime()
      val warmRaw = truncatedCopy(args(0), rows = 1000)
      val warmOut = java.nio.file.Files.createTempDirectory("graft_warmup_out")
      // Generated code is partition-count-independent, so the warmup can
      // run its tiny jobs with minimal task overhead and still populate
      // the codegen cache / JIT profile the full-partition run reuses —
      // the cache keeps them only because it is sized above one pass's
      // classes (CodegenCacheEntries).
      val mainParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try OpenSeaPipeline.run(spark, config.copy(
        rawDataDir = warmRaw.toString, cleanBaseDir = warmOut.toString))
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", mainParts)
        deleteRecursively(warmOut)
        deleteRecursively(warmRaw)
      }
      println(f"warmup (codegen+JIT, 1K rows/file): " +
        f"${(System.nanoTime() - w0) / 1e9}%.2f s")
    } catch {
      // the warmup is an optimization — never let it kill the real run
      case NonFatal(e) =>
        println(s"warmup skipped (non-fatal): ${e.getMessage}")
    }
    val result = OpenSeaPipeline.run(spark, config)
    println(s"outputs: ${result.outputDir}")
    println(result.report.render)
    // --repeat [N]: N warm reruns in the same JVM (default 1) — the
    // steady-state numbers with one-time JIT/codegen excluded; medians
    // over N>=3 are what to quote (single warm runs carry ±20% noise
    // from GC timing and background load).
    if (args.contains("--repeat")) {
      val n = args.sliding(2).collectFirst {
        case Array("--repeat", v) if v.forall(_.isDigit) => v.toInt
      }.getOrElse(1)
      val phaseAcc =
        scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
      val times = (1 to n).map { i =>
        // ContextCleaner frees shuffle files / broadcast blocks via weak
        // references, i.e. only after a GC — back-to-back runs in one
        // JVM otherwise accumulate dead shuffle state (measured: reruns
        // degrading 16 s -> 41 s by rep 4). A real long-running cluster
        // GCs naturally between jobs; do the same here.
        System.gc()
        val t0 = System.nanoTime()
        val again = OpenSeaPipeline.run(spark, config)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"warm rerun $i: $dt%.2f s -> ${again.outputDir}")
        again.phases.foreach { case (p, d) => phaseAcc(p) = d :: phaseAcc(p) }
        dt
      }
      println(f"warm median of $n: ${times.sorted.apply(n / 2)}%.2f s")
      // Per-phase warm medians on one parseable line: the concurrent
      // phases time-slice the same cores, so the SUM of phase spans
      // exceeds the wall clock — each span is that job's wall residency,
      // the evidence base for the fan-out's per-job fixed-cost floor.
      val phasesJson = phaseAcc.toSeq.sortBy(_._1).map { case (p, ds) =>
        val med = ds.sorted.apply(ds.size / 2)
        "\"" + p + "\":" + f"$med%.3f"
      }.mkString("{", ",", "}")
      println(s"[anchor-phases] $phasesJson")
    }
    spark.stop()
  }
}
