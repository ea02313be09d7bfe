package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure a closed loop of passes
  * for a fixed window, check the outputs, and write every raw sample to a
  * JSON file. `perfbench/run.py` turns that file into the metrics.
  *
  * Arguments are `key=value` pairs:
  *   mode      run (default) or survey
  *   workload  etl_anchor | catalog_mix
  *   seconds   length of the timed window
  *   trace     0 or 1: the traced run alternates untraced and traced passes
  *   setups    how many times the set-up is repeated (the median is kept)
  *   cores     n of local[n]
  *   data      catalog input tables (one parquet per table)
  *   queries   comma-separated catalog query names, in pass order
  *             (survey also takes `all`)
  *   corpus    ETL raw CSV directory
  *   warmup    the same CSVs cut to their first rows, for the warmup pass
  *   work      scratch directory for outputs, Spark local files and spills
  *   out       result JSON path
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing argument $k"))
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val work = opt("work")
    val etl = workload.startsWith("etl")

    // The ETL runs with RunPipeline's session, the catalog with Bench's.
    def newSession(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", (!etl).toString)
      .config("spark.scheduler.mode", if (etl) "FAIR" else "FIFO")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

    val result: Map[String, Any] = opts.getOrElse("mode", "run") match {
      case "survey" =>
        val spark = newSession()
        spark.sparkContext.setLogLevel("ERROR")
        val names = opt("queries") match {
          case "all" => graft.SparkEntry.catalog.map(_.name)
          case list => list.split(",").toSeq
        }
        try Catalog.survey(spark, opt("data"), names)
        finally spark.stop()
      case "run" =>
        val seconds = opt("seconds").toDouble
        val traced = opt("trace") == "1"
        val setups = opt("setups").toInt
        val workload: Workload =
          if (etl) new Etl(opt("corpus"), opt("warmup"), work)
          else new Catalog(opt("data"), opt("queries").split(",").toSeq)
        run(newSession _, workload, seconds, traced, setups)
      case m => sys.error(s"unknown mode $m")
    }
    Files.writeString(Paths.get(opt("out")), Json(result))
  }

  /** Heap in use right after a full collection, in MB. Spark frees dead
    * shuffles, broadcasts and checkpoint blocks only after a collection
    * shows them unreachable (ContextCleaner), so the heap is read after a
    * second collection that follows that clean-up.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of the whole JVM, all threads. */
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def run(newSession: () => SparkSession, workload: Workload,
      seconds: Double, traced: Boolean, setups: Int): Map[String, Any] = {
    val minPasses = 2
    // Set-up: session start until the first timed pass can begin. It is
    // repeated `setups` times in this JVM (the last session is kept).
    var spark: SparkSession = null
    var checks: Seq[Map[String, Any]] = Nil
    val setupS = (1 to setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession()
      spark.sparkContext.setLogLevel("ERROR")
      if (i == 1) checks = workload.setupAndCheck(spark, s"setup$i")
      else workload.setup(spark, s"setup$i")
      (System.nanoTime() - t0) / 1e9
    }
    val counters = if (traced) {
      val c = new SparkCounters(spark.sparkContext)
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val tracer = new Tracer

    // Closed loop: a pass starts when the previous one ends, until the
    // window is over and at least two passes ran. In the traced run passes
    // alternate untraced/traced.
    val passes = ArrayBuffer[Map[String, Any]]()
    val w0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      val tracedPass = traced && passes.size % 2 == 1
      val gc0 = gcSeconds()
      val cpu0 = processCpuSeconds()
      val p0 = System.nanoTime()
      val ops = workload.pass(spark, passes.size,
        if (tracedPass) Some((tracer, counters.get)) else None)
      val wall = (System.nanoTime() - p0) / 1e9
      val gc = gcSeconds() - gc0
      val cpu = processCpuSeconds() - cpu0
      passes += Map("traced" -> tracedPass, "wall_s" -> wall, "cpu_s" -> cpu,
        "jvm_gc_s" -> gc, "heap_after_gc_mb" -> heapAfterGcMb(),
        "ops" -> ops)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val host = Map(
      "jvm" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "scheduler" -> spark.conf.get("spark.scheduler.mode"),
      "jvm_cores" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    spark.stop()
    Map("host" -> host, "setup_s" -> setupS, "window_s" -> windowS,
      "passes" -> passes, "checks" -> checks, "spans" -> tracer.toJson)
  }
}

/** A benchmark workload: set-up, one pass, and the output check. */
trait Workload {
  /** Everything a timed pass needs, including one untimed warmup pass. */
  def setup(spark: SparkSession, tag: String): Unit

  /** The first set-up: the same, but its warmup pass also produces the
    * values the benchmark compares with what it expects. Being the cold
    * set-up it is the slowest of the three, so the median is a warm one.
    */
  def setupAndCheck(spark: SparkSession, tag: String): Seq[Map[String, Any]]

  /** One pass; one record per operation. `trace` is set on traced passes. */
  def pass(spark: SparkSession, index: Int,
      trace: Option[(Tracer, SparkCounters)]): Seq[Map[String, Any]]
}

object Workload {
  /** Failure record of an operation: the exception class and message. */
  def error(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
}
