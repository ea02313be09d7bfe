package perfbench

import org.apache.spark.sql.DataFrame

/** The one timed action of the benchmark: every row and every column of
  * `df` is computed and handed to the `noop` sink. `count()` is never
  * timed — Catalyst would prune the columns and any aggregate the count
  * does not need.
  */
object Materialize {
  def apply(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
