package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Dev tool: dump formatted physical plans for selected queries so plan
  * quality (pushdown, broadcast, whole-stage codegen spans) is reviewable.
  * Usage: runMain graft.Explain <sfDir> <outFile> [name ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "/tmp/graft_plans.txt"
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("a1_daily_event_stats", "a2_price_stats_median",
        "j1_composite_left_join", "j3_star_join_revenue",
        "j11_peer_window_join", "j12_knn_cosine_top5",
        "e3_peer_effect_elasticity", "v1_dedup_deterministic",
        "t5_minhash_lsh_pairs", "ann2_ivf_topk")
    val spark = Bench.session("4")
    val qs = SparkEntry.queries
    val sb = new StringBuilder
    names.foreach { n =>
      sb.append(s"\n========== $n ==========\n")
      try {
        val df = qs(n)(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case NonFatal(e) => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"plans written to $outFile")
    spark.stop()
  }
}
