package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.KmvMergeAgg
import graft.operators.ThetaSketch

/** A/B the KMV sketch constructions on real fixture shapes —
  *
  *  1. BUILD: `ThetaSketch.kmvSketchAgg` (custom map-combinable
  *     TypedImperativeAggregate) vs `kmvSketch` (distinct + per-group
  *     window) over the events table's user-id space, grouped by a
  *     4096-way synthetic segment key so the group count resembles a
  *     deployment's, not the fixture's 5 event types.
  *  2. ANF MERGE: one `Graph.neighborhoodFunction` hop's sketch merge
  *     via `KmvMergeAgg` vs the collect_list→flatten→dedup→sort→slice
  *     expression chain, on the strong-tie graph's edge frame.
  *
  * Asserts bit-equality of results (the spec's property, re-checked on
  * the full fixture), then reports warm medians of each shape. The
  * local[32] numbers measure the SINGLE-NODE constant; the structural
  * argument (map-side state bounded at |groups|·k vs all distinct
  * hashes / all input arrays through the exchange) is what transfers to
  * a 1000-executor shuffle. Runs standalone (`runMain graft.KmvAb
  * [sfDir] [reps]`) and on the bench record via [[ScaleProbe]]'s
  * `kmv_ab` entry.
  */
object KmvAb {

  /** Measure both A/Bs; returns the JSON object body (no braces). */
  def measure(spark: SparkSession, sfDir: String, reps: Int): String = {
    def medianOf(thunk: () => Long): Double = {
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        thunk()
        1e-9 * (System.nanoTime() - t0)
      }
      walls.sorted.apply(reps / 2)
    }

    // ---- 1. build shape
    val ev = Tables.events(spark, sfDir)
      .select((col("user_id") % 4096).as("seg"), col("event_id"))
    ev.cache().count()
    val k = 64
    def sink(df: DataFrame, kmvCol: String): Long = df
      .agg(sum(element_at(col(kmvCol), 1).cast("double")))
      .head().getDouble(0).toLong
    def viaAgg() = sink(ThetaSketch.kmvSketchAgg(ev, "seg", "event_id", k),
      "kmv")
    def viaWin() = sink(ThetaSketch.kmvSketch(ev, "seg", "event_id", k),
      "kmv")
    val eqBuild = ThetaSketch.kmvSketchAgg(ev, "seg", "event_id", k)
      .withColumnRenamed("kmv", "ka")
      .join(ThetaSketch.kmvSketch(ev, "seg", "event_id", k), "seg")
      .where(col("ka") =!= col("kmv")).count()
    require(eqBuild == 0L, s"build mismatch on $eqBuild groups")
    val aggS = medianOf(viaAgg _)
    val winS = medianOf(viaWin _)

    // ---- 2. ANF merge shape (g8's exact frame, one propagation hop)
    val e0 = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir).where(col("l_quantity") >= 48),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("__s"), (-(col("l_suppkey") + 1)).as("__d"))
    val sym = e0.union(e0.select(col("__d"), col("__s"))).distinct()
    val nodes = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("__v"))
      .union(Tables.supplier(spark, sfDir)
        .select((-(col("s_suppkey") + 1)).as("__v")))
    val sk0 = nodes.select(col("__v"),
      array(ThetaSketch.hash56(col("__v"))).as("__kmv"))
    val kb = 16
    def oneHop(merge: DataFrame => DataFrame): DataFrame = {
      val nbr = sk0.join(sym, col("__v") === col("__s"))
        .select(col("__d").as("__v"), col("__kmv"))
      merge(sk0.union(nbr))
    }
    def mergeAgg(df: DataFrame) = df.groupBy(col("__v"))
      .agg(KmvMergeAgg(col("__kmv"), kb).as("__kmv"))
    def mergeChain(df: DataFrame) = df.groupBy(col("__v"))
      .agg(slice(array_sort(array_distinct(
        flatten(collect_list(col("__kmv"))))), 1, kb).as("__kmv"))
    sym.cache().count(); sk0.cache().count()
    val eqMerge = oneHop(mergeAgg).withColumnRenamed("__kmv", "__ka")
      .join(oneHop(mergeChain), "__v")
      .where(col("__ka") =!= col("__kmv")).count()
    require(eqMerge == 0L, s"merge mismatch on $eqMerge nodes")
    val mAggS = medianOf(() => sink(oneHop(mergeAgg), "__kmv"))
    val mChainS = medianOf(() => sink(oneHop(mergeChain), "__kmv"))
    Seq(ev, sym, sk0).foreach(_.unpersist())

    f""""reps":$reps,"build_agg_s":$aggS%.3f,""" +
      f""""build_window_s":$winS%.3f,"merge_agg_s":$mAggS%.3f,""" +
      f""""merge_chain_s":$mChainS%.3f,""" +
      s""""build_winner":"${if (aggS <= winS) "agg" else "window"}"""" +
      s""","merge_winner":"${if (mAggS <= mChainS) "agg" else "chain"}""""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = Bench.session("32")
    println(s"""{"kmv_ab":{"sf_dir":"$sfDir",${measure(spark, sfDir, reps)}}}""")
    spark.stop()
  }
}
