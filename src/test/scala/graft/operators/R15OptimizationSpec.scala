package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Round-15 optimization regression specs: each test pins the CONTRACT
  * of an operator whose internals were restructured for performance
  * (OPTIMIZATION_r15.md), so a future change can't silently trade
  * correctness for speed.
  */
class R15OptimizationSpec extends SparkSpecBase {

  import spark.implicits._

  test("hdbscanLevels: joint multi-lambda run equals independent " +
      "single-lambda runs (shared pair/core-distance factoring is exact)") {
    // mixed densities + a chain that only connects at the coarse level
    val pts = (Seq((1L, 0.0, 0.0), (2L, 0.012, 0.0), (3L, 0.0, 0.013),
      (4L, 0.011, 0.012), (5L, 0.006, 0.006), (99L, 3.0, 3.0)) ++
      (0 until 6).map(i => (20L + i, 1.0 + i * 0.035, 0.0)))
      .toDF("id", "x", "y")
    val lambdas = Seq(0.02, 0.05, 0.1)
    val joint = graft.ml.Clustering
      .hdbscanLevels(pts, "id", "x", "y", minPts = 3, lambdas = lambdas)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("id")) ->
        r.getAs[Long]("cluster")).toMap
    lambdas.zipWithIndex.foreach { case (lam, i) =>
      val solo = graft.ml.Clustering
        .hdbscanLevels(pts, "id", "x", "y", minPts = 3,
          lambdas = Seq(lam))
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      solo.foreach { case (id, c) =>
        assert(joint((i.toLong, id)) == c,
          s"level $i (lambda $lam) id $id: joint ${joint((i.toLong, id))} vs solo $c")
      }
    }
    // the frame plus a copy shifted past its x-extent and the largest λ
    // (ids id·2 + c): the copies never interact, so every level's
    // cluster, member and noise counts must come out exactly 2×
    val xs = pts.select(min("x"), max("x")).head()
    val shift = xs.getDouble(1) - xs.getDouble(0) + 2 * lambdas.max
    val twice = pts.select(explode(array(lit(0), lit(1))).as("c"),
        col("id"), col("x"), col("y"))
      .select((col("id") * 2 + col("c")).as("id"),
        (col("x") + col("c") * shift).as("x"), col("y"))
    def levelCounts(df: org.apache.spark.sql.DataFrame) =
      graft.ml.Clustering
        .hdbscanLevels(df, "id", "x", "y", minPts = 3, lambdas = lambdas)
        .groupBy("level").agg(
          countDistinct(when(col("cluster") >= 0, col("cluster"))),
          sum(when(col("cluster") >= 0, 1L).otherwise(0L)),
          sum(when(col("cluster") === -1L, 1L).otherwise(0L)))
        .collect()
        .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2),
          r.getLong(3))).toMap
    val one = levelCounts(pts)
    assert(one.size == lambdas.size)
    assert(levelCounts(twice) == one.map { case (l, n) => l -> n.map(_ * 2) })
  }

  test("kmeansCentroids: unit-norm, at most k cells, deterministic " +
      "across calls (maxIter=5 fit keeps the operator contract)") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 8).map(j =>
        math.sin(i * 0.7 + j) + (i % 3) * 2.0))
    }.toDF("id", "vec")
    val a = graft.ml.Clustering.kmeansCentroids(vecs, "vec", k = 4, seed = 7L)
      .collect().map(r => r.getAs[Long]("cell") -> r.getSeq[Double](1)).toMap
    val b = graft.ml.Clustering.kmeansCentroids(vecs, "vec", k = 4, seed = 7L)
      .collect().map(r => r.getAs[Long]("cell") -> r.getSeq[Double](1)).toMap
    assert(a.size <= 4 && a.nonEmpty)
    assert(a.keySet == b.keySet)
    a.foreach { case (cell, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"cell $cell not unit-norm: $n")
      // spark.ml's fit is seed-deterministic, so reruns must agree
      c.zip(b(cell)).foreach { case (x, y) =>
        assert(x == y, s"cell $cell differs across calls") }
    }
  }

  test("connectedComponentsStarContraction: observed-count convergence " +
      "probe converges on chains, cliques, singletons, and empty input") {
    val nodes = (1L to 12L).toDF("id")
    // chain 1..5, clique 6..8, pair 9-10; 11, 12 isolated
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (6L, 8L), (9L, 10L))).toDF("a", "b")
    val got = Dedup.connectedComponentsStarContraction(
        nodes, "id", edges, "a", "b")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("cluster_id")).toMap
    (1L to 5L).foreach(i => assert(got(i) == 1L))
    (6L to 8L).foreach(i => assert(got(i) == 6L))
    assert(got(9L) == 9L && got(10L) == 9L)
    assert(got(11L) == 11L && got(12L) == 12L)
    // empty edge set: everyone is their own component
    val alone = Dedup.connectedComponentsStarContraction(
        nodes, "id", edges.where(lit(false)), "a", "b")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("cluster_id")).toMap
    (1L to 12L).foreach(i => assert(alone(i) == i))
  }
}
