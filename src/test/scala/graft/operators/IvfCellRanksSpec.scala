package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** [[Similarity.ivfCellRanks]] is the ONE definition of IVF cell
  * assignment, shared by `ivfTopK` and the measured recall-cost curve
  * (README) — pin its semantics on a hand-computed fixture: rank 1 is the
  * max-dot-product cell after unit normalization, ties break toward the
  * HIGHER cell id, and exactly `maxRank` cells come back per vector.
  */
class IvfCellRanksSpec extends SparkSpecBase {

  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (1L, Seq(2.0f, 0.0f)),   // unit (1,0): c0 dot 1, c1 dot 0, c2 dot ~.707
      (2L, Seq(0.0f, 5.0f)),   // unit (0,1): c1 wins, then c2, then c0
      (3L, Seq(1.0f, 1.0f))    // unit ~(.707,.707): c2 dot 1; c0 = c1 tie
    ).toDF("vec_id", "embedding")
  }

  private lazy val cents = {
    import spark.implicits._
    val r = math.sqrt(0.5)
    Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.0, 1.0)),
      (2L, Seq(r, r))
    ).toDF("cell", "cent_vec")
  }

  test("rank order is dot-product-descending with cell-desc tie-break") {
    val ranked = Similarity.ivfCellRanks(vecs, "vec_id", "embedding",
        cents, maxRank = 3)
      .orderBy("id", "cell_rank").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    val byVec = ranked.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byVec(1L) === Seq(0L, 2L, 1L))
    assert(byVec(2L) === Seq(1L, 2L, 0L))
    // vec 3 dots: c2 = 1, c0 = c1 ≈ .707 tied -> higher cell id first
    assert(byVec(3L) === Seq(2L, 1L, 0L))
  }

  test("maxRank truncates and is floored at 1") {
    val one = Similarity.ivfCellRanks(vecs, "vec_id", "embedding",
      cents, maxRank = 0)
    assert(one.groupBy("id").count().collect().forall(_.getLong(1) === 1L))
    val homes = one.orderBy("id").collect().map(r => r.getLong(1))
    assert(homes.toSeq === Seq(0L, 1L, 2L))
  }
}
