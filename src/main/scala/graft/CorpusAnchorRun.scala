package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.CorpusPipeline

/** The LLM-corpus-prep anchor runner (VERDICT r9 #5): the E1 ETL anchor's
  * counterpart for the flow the §2.12 extension surface exists for —
  * `analysis.CorpusPipeline.prepare` (quality features → threshold filter
  * → language ID → exact dedup → MinHash-LSH near-dup removal → stable
  * split) end-to-end over the documents corpus, optionally replicated
  * `factor`x with near-dup copies (one trailing token differs — the
  * LshAb corpus, so the dedup stages do real work at volume instead of
  * scanning disjoint text).
  *
  * Run standalone in a fresh JVM per window (the E1 anchor's method): one
  * untimed warm rep, then `repeat` timed reps with a GC between
  * (ContextCleaner frees shuffle/broadcast/localCheckpoint blocks only on
  * GC), printed in the RunPipeline line format:
  *
  *   warm rerun 1: 3.21 s
  *   warm median of 5: 3.30 s
  *   rows: 50000            (input docs — the throughput denominator)
  *
  * Args: <sfDir> [factor] [repeat].
  */
object CorpusAnchorRun {

  /** The measured plan: corpus prep over `factor`x documents; counted to
    * force every stage (the split column is the last projection).
    */
  def corpus(spark: SparkSession, sfDir: String, factor: Int): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    if (factor <= 1) docs
    else docs
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") * factor + col("c")).as("doc_id"),
        concat(col("text"), lit(" zz"), col("c")).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 1
    val repeat = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Bench.session(cpus)

    def run(): Long =
      CorpusPipeline.prepare(corpus(spark, sfDir, factor), "text", "doc_id")
        .count()

    val nDocs = corpus(spark, sfDir, factor).count()
    println(s"rows: $nDocs")
    run() // untimed warm rep: JIT + codegen + shuffle-file warmup
    val times = (1 to repeat).map { i =>
      System.gc()
      val t0 = System.nanoTime()
      val kept = run()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"warm rerun $i: $dt%.2f s -> kept $kept")
      dt
    }
    println(f"warm median of $repeat: ${times.sorted.apply(repeat / 2)}%.2f s")
    spark.stop()
  }
}
