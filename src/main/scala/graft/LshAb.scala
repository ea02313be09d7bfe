package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: A/B the two MinHash-LSH pair-join shapes (VERDICT r6 #5) —
  * the band-key-only form (distinct candidate ids first, then two
  * verify joins against the materialized signature table; the
  * production `Dedup.minHashLshPairs` since round 7) vs the round-6
  * single-pass form (band rows CARRY their 32-long signature through
  * the self-join; `Dedup.minHashLshPairsSigCarry`) — at the sf corpus
  * and at a 10× replicated corpus whose copies are strong near-dups
  * (each doc's 10 copies differ only in a trailing token), so the
  * candidate space grows ~45 pairs per source doc and the verify stage
  * is genuinely exercised. Asserts both shapes return the same pair
  * count, then reports warm medians.
  * Usage: `runMain graft.LshAb [sfDir] [factor]`.
  */
object LshAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = Bench.session("32")

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    docs.cache().count()
    val docsBig = docs
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") * factor + col("c")).as("doc_id"),
        concat(col("text"), lit(" zz"), col("c")).as("text"))
    docsBig.cache().count()

    def run(name: String, df: DataFrame): Unit = {
      def single() = operators.Dedup.minHashLshPairsSigCarry(
        df, "text", "doc_id", 3, 32, 4, 0.5)
      def keyJoin() = operators.Dedup.minHashLshPairs(
        df, "text", "doc_id", 3, 32, 4, 0.5)
      val n1 = single().count()
      val n2 = keyJoin().count()
      require(n1 == n2, s"$name: shapes disagree ($n1 vs $n2)")
      def med(f: () => DataFrame): Double = {
        Bench.materialize(f()) // warm
        (1 to 3).map { _ =>
          System.gc()
          val t0 = System.nanoTime()
          Bench.materialize(f())
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
      }
      val ts = med(() => single())
      val tk = med(() => keyJoin())
      println(f"[lshab] $name pairs=$n1 single_pass=$ts%.2f s " +
        f"key_join=$tk%.2f s")
    }
    run(s"sf($sfDir)", docs)
    run(s"${factor}x", docsBig)
    spark.stop()
  }
}
