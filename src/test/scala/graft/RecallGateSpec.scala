package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The recall margins of the three centroid/quantizer-dependent gates
  * (t57, ann2c, ann9). Their catalog rows reduce recall to a boolean
  * against the floor, so a drift that still clears the floor by a hair
  * passes the oracle unseen; this recomputes each recall from the
  * query's own two sides on every fixture and asserts it clears
  * floor + [[RecallGateSpec.Buffer]]. Run it before any centroid,
  * quantizer or k-means change.
  */
class RecallGateSpec extends SparkSpecBase {
  import RecallGateSpec._

  test("margin: a NaN recall (0/0) is thin, like one under the buffer") {
    assert(thin(Double.NaN, floor = 0.85, buffer = 0.02))
    assert(thin(0.86, floor = 0.85, buffer = 0.02))
    assert(!thin(0.9, floor = 0.85, buffer = 0.02))
    assert(!thin(1.0, floor = 0.85, buffer = 0.02))
  }

  /** The share of `exact`'s rows that `approx` also holds, on `keys`.
    * The exact side must be non-empty: a 0/0 recall is no measurement.
    */
  private def recall(exact: DataFrame, approx: DataFrame,
      keys: Seq[String]): Double = {
    val n = exact.count()
    assert(n > 0, "the exact side is empty")
    exact.join(approx, keys, "left_semi").count().toDouble / n
  }

  private def assertClears(recall: Double, floor: Double): Unit = {
    info(f"recall $recall%.4f (floor $floor)")
    assert(!thin(recall, floor, Buffer),
      f"recall $recall%.4f is within $Buffer of floor $floor")
  }

  for (fixture <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"t57 blocked-pair recall clears its floor at $fixture") {
      val emb = Tables.embeddings(spark, sf(fixture))
        .select(col("vec_id"), col("embedding"))
      val (exact, blocked) = QueriesR.t57Pairs(emb)
      assertClears(recall(exact, blocked, Seq("id_a", "id_b")),
        QueriesR.T57RecallFloor)
    }

    test(s"ann2c IVF recall@5 clears its floor at $fixture") {
      val (exact, ivf) = QueriesD.ann2cSides(spark, sf(fixture))
      assertClears(recall(exact, ivf, Seq("query_id", "neighbor_id")),
        QueriesD.Ann2cRecallFloor)
    }

    test(s"ann9 PQ recall@5 clears its floor at $fixture") {
      val (exact, pq) = QueriesS.ann9Sides(spark, sf(fixture))
      assertClears(recall(exact, pq, Seq("query_id", "neighbor_id")),
        QueriesS.Ann9RecallFloor)
    }
  }
}

object RecallGateSpec {

  /** How far above its floor a recall must sit. */
  val Buffer = 0.02

  /** A recall margin is thin when it sits within `buffer` of its
    * `floor` — or is NaN (a 0/0 recall), which no comparison would flag.
    */
  def thin(recall: Double, floor: Double, buffer: Double): Boolean =
    recall.isNaN || recall < floor + buffer
}
