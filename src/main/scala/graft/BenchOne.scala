package graft

/** Dev entry: time one catalog query with Bench's session and measure
  * rule (table cache, one untimed warm rep, then `reps` timed noop-sink
  * reps, outlier-cleaned median). A `product:` name prefix resolves
  * against `SparkEntry.productQueries` (the deployment-side plan of an
  * audit-shaped query) instead of the catalog.
  *
  * Args: <name> <sfDir> [reps]; SPARK_GRAFT_CPUS sets the core count.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchOne <name> <sfDir> [reps]")
    val name = args(0)
    val sfDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else Bench.MaxReps
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try {
      val fn =
        if (name.startsWith("product:"))
          SparkEntry.productQueries(name.stripPrefix("product:"))
        else SparkEntry.queries(name)
      Bench.warmTables(spark, sfDir)
      val m = Bench.measure(spark, sfDir, fn, _ => reps)
      println(s"[benchone] $name median ${m.median} s, warm ${m.warmS} s, " +
        s"reps ${m.reps.mkString(", ")}" +
        (if (m.repsRejected.isEmpty) ""
         else s", rejected window ${m.repsRejected.mkString(", ")}") +
        (if (m.unstable) " (unstable)" else ""))
    } finally spark.stop()
  }
}
