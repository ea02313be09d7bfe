package graft

import org.apache.spark.sql.SparkSession

/** Dev probe (r15): print the boolean gate rows of the recall-gated
  * queries at each scale factor, so centroid/quantizer changes can be
  * cleared against every fixture before a full verify run.
  * Usage: runMain graft.GateCheck <name> [name...] — checks at
  * sf0.001, sf0.01, sf0.1.
  */
object GateCheck {

  /** A recall margin is thin when it sits within `buffer` of its
    * `floor` — or is NaN (a 0/0 recall), which no comparison would flag.
    */
  def thin(recall: Double, floor: Double, buffer: Double): Boolean =
    recall.isNaN || recall < floor + buffer

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("t57_semantic_dedup", "ann2c_ivf_learned", "ann9_pq_topk")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- names) {
      val d = s"/root/testdata/$sf"
      try {
        val rows = SparkEntry.queries(n)(spark, d).collect()
        println(s"[gate] $sf $n -> ${rows.map(_.toString).mkString(" | ")}")
      } catch { case e: Throwable =>
        println(s"[gate] $sf $n ERROR ${e.getMessage}")
      }
    }
    // exact recall margins for the centroid-dependent gates. r16
    // (ADVICE r15 #2): margins are now ASSERTED, not just printed — the
    // probe exits 1 when any measured recall sits within `buffer` of its
    // hard floor, so a quantizer/fit drift is caught here instead of as
    // an opaque driver hash mismatch.
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.ml.Clustering
    val buffer = 0.02
    var thinTags = List.empty[String]
    def margin(tag: String, recall: Double, floor: Double): Unit = {
      println(f"[margin] $tag recall = $recall%.4f (floor $floor)")
      if (thin(recall, floor, buffer))
        thinTags ::= f"$tag recall $recall%.4f < floor $floor + buffer $buffer"
    }
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      val emb = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"))
      val exact = Similarity.exactThresholdPairs(emb, "vec_id",
          "embedding", 0.45)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val cents = Clustering.kmeansCentroids(emb, "embedding", 8, 7L)
      val blocked = Similarity.clusterBlockedPairs(emb, "vec_id",
          "embedding", 0.45, cents, nprobe = 4)
        .select(col("id_a"), col("id_b"))
      val nE = exact.count()
      val nF = exact.join(blocked, Seq("id_a", "id_b"), "left_semi").count()
      margin(s"$sf t57", if (nE == 0) 1.0 else nF.toDouble / nE, 0.85)
      val base = Tables.embeddings(spark, d)
      val k = math.max(4, math.round(math.sqrt(base.count().toDouble)).toInt)
      val c2 = Clustering.kmeansCentroids(base, "embedding", k, 7L)
      val ivf = Similarity.ivfTopK(base, "vec_id", "embedding", 5, c2,
        nprobe = 4).select(col("query_id"), col("neighbor_id"))
      val ex2 = Similarity.bruteForceTopK(base, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      val n2 = ex2.count()
      val h2 = ex2.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
      margin(s"$sf ann2c", h2.toDouble / n2, 0.35)
      // ann9: PQ ADC recall@5 vs the exact top-5 (every 10th vector)
      val pred = pmod(col("vec_id"), lit(10)) === 0
      val ex9 = Similarity.bruteForceTopKFor(base,
          base.where(pred).select(col("vec_id")), "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      val pq9 = Similarity.pqTopK(base, "vec_id", "embedding", pred,
          k = 5, m = 16, ksub = 16, shortlist = 100,
          dim = Tables.embeddingDim, seed = 7L)
        .select(col("query_id"), col("neighbor_id"))
      val n9 = ex9.count()
      val h9 = ex9.join(pq9, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      margin(s"$sf ann9", h9.toDouble / n9, 0.85)
    }
    if (thinTags.nonEmpty) {
      println("[gatecheck] THIN MARGINS:\n  " + thinTags.reverse.mkString("\n  "))
      spark.stop()
      sys.exit(1)
    }
    println("[gatecheck] all margins clear the floor + 0.02 buffer")
    spark.stop()
  }
}
