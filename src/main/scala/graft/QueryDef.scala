package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The catalog entry type, in its own dependency-free file: every catalog
  * part references `Q`, and none of them needs [[Queries]] for it.
  */
object QueryDef {

  /** @param product for audit-shaped queries (recall/approximation gates
    *   whose plan is dominated by an exact brute-force ground-truth side),
    *   the PRODUCTION side alone — the plan a deployment would run, with
    *   no exact twin anywhere in it. Bench times it separately so the
    *   reported cost of the audit doesn't masquerade as the cost of the
    *   operator.
    */
  case class Q(name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      product: Option[(SparkSession, String) => DataFrame] = None)
}
