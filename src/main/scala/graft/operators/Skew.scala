package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for hot keys at cluster scale.
  *
  * A groupBy on a key with a dominant value (one collection with 90% of
  * events, one token with millions of trades) puts that key's entire
  * volume through a single reducer. Salting splits each key into
  * `numSalts` subkeys for a first partial aggregate, then combines the
  * partials — two small shuffles instead of one skewed one. AQE's skew
  * handling covers joins; aggregation salting is still manual, hence this
  * operator.
  *
  * Only algebraic aggregates (sum/count/min/max) compose across salts;
  * avg is derived as sum/count downstream.
  */
object Skew {

  case class SaltedAgg(sums: Seq[String] = Nil, counts: Boolean = true,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil)

  /** Two-phase salted aggregation: groupBy (keys, salt) → partials,
    * then groupBy keys → combine. Results are identical to the direct
    * groupBy (asserted in the spec); only the shuffle shape changes.
    */
  def saltedAggregate(df: DataFrame, keys: Seq[String], agg: SaltedAgg,
      numSalts: Int = 16): DataFrame = {
    require(agg.counts || agg.sums.nonEmpty || agg.mins.nonEmpty ||
      agg.maxs.nonEmpty, "saltedAggregate needs at least one aggregate")
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col(keys.head), monotonically_increasing_id()),
        lit(numSalts)))
    val partialAggs =
      (if (agg.counts) Seq(count(lit(1)).as("__cnt")) else Nil) ++
        agg.sums.map(c => sum(col(c)).as(s"__sum_$c")) ++
        agg.mins.map(c => min(col(c)).as(s"__min_$c")) ++
        agg.maxs.map(c => max(col(c)).as(s"__max_$c"))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs =
      (if (agg.counts) Seq(sum(col("__cnt")).as("n")) else Nil) ++
        agg.sums.map(c => sum(col(s"__sum_$c")).as(s"sum_$c")) ++
        agg.mins.map(c => min(col(s"__min_$c")).as(s"min_$c")) ++
        agg.maxs.map(c => max(col(s"__max_$c")).as(s"max_$c"))
    partial.groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted equi-join for a skewed fact side against a dim side that is
    * too big to broadcast but small enough to replicate `numSalts`×:
    * every fact row gets a salt in [0, numSalts), the dim side is
    * replicated once per salt value, and the join key becomes
    * (key, salt) — a hot key's rows now spread over `numSalts` reducers
    * instead of one. The result is row-identical to the plain join for
    * inner/left semantics (each fact row meets exactly the dim rows of
    * its key, on its own salt; asserted in the spec). AQE's skew-join
    * split handles this adaptively when enabled; the explicit form is
    * for static plans and for engines/pipelines where AQE is off.
    *
    * Measured crossover (a one-off probe, 2M-row fact with a 30% hot
    * key, 2K-key dim, local[32]; README "Skew crossover"): broadcast 0.35 s > AQE ≈ plain SMJ
    * 0.91/0.93 s > salted(16) 1.14 s — the ×16 dim replication and
    * second shuffle cost MORE than the hot reducer saves until that
    * reducer's sort reaches the many-GB spill regime. Order of
    * preference: broadcast the dim when it fits; let AQE split when it
    * doesn't; salt only in static plans with spill-scale hot keys.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      numSalts: Int = 16, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer",
      s"saltedJoin supports inner/left joins, got $joinType")
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(numSalts)))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit((numSalts - 1).toLong))))
    saltedFact.join(replicatedDim, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }
}
