package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source operators (SURVEY §2.1 S1, S2, S4).
  *
  * The reference reads heterogeneous CSVs per file and concatenates
  * "diagonally" (union by column name, missing columns null —
  * io_utils.py:21-69), with a DuckDB escape hatch for big files
  * (io_utils.py:71-89). Spark subsumes both paths: permissive CSV scans,
  * one per distinct header, folded with unionByName. At cluster scale
  * each file is split into tasks by the FileSourceScan, so no special
  * "large file" mode exists.
  */
object Readers {

  /** S1/S2: tolerant multi-file CSV scan with union-by-name semantics,
    * mirroring ignore_errors=true.
    *
    * Default is all-columns-as-string: type inference on dirty data is a
    * trap under ANSI mode (an inferred timestamp column with one junk row
    * fails the whole scan), and the cleaner's `try_cast`s are the
    * authoritative typing anyway. `inferSchema = true` is for known-clean
    * inputs and reads each file on its own.
    *
    * In the all-string path each file's schema is built from a
    * driver-side read of its header line and passed explicitly — without
    * it, `spark.read.csv(path)` launches a header-sniffing Spark job PER
    * FILE at plan time (measured 5.6 s of the anchor run's wall before
    * the first real job; at cluster scale, N files → N scheduler
    * round-trips before planning even starts). Files whose headers give
    * the same column sequence are then read by ONE scan (a multi-path
    * CSV read skips every file's header line), and only the distinct
    * headers are folded with unionByName, in first-appearance order — so
    * the plan holds one FileScan per distinct header instead of one
    * Union branch per file. Headers with the same names in a different
    * order stay apart: CSV maps fields by position.
    */
  def readCsvUnionByName(spark: SparkSession, paths: Seq[String],
      inferSchema: Boolean = false): DataFrame = {
    def reader = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
    val scans =
      if (inferSchema) paths.map(reader.option("inferSchema", "true").csv(_))
      else {
        val schemas = paths.map(p => p -> headerSchema(spark, p))
        schemas.map(_._2).distinct.map { s =>
          reader.schema(s).csv(schemas.collect { case (p, `s`) => p }: _*)
        }
      }
    scans.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** All-string StructType from a CSV file's header line. Read through
    * the Hadoop FileSystem API so it works on any scheme the cluster
    * can reach (local, hdfs://, s3a://) — one driver-side line read per
    * file, never a Spark job.
    */
  private def headerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p0).isDirectory)
        fs.listStatus(p0).filter(_.getPath.getName.endsWith(".csv"))
          .minBy(_.getPath.getName).getPath
      else p0
    val in = fs.open(file)
    val header =
      try new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    if (header == null || header.trim.isEmpty)
      throw new IllegalArgumentException(
        s"empty CSV header in $file — cannot derive a schema")
    StructType(splitCsvHeader(header)
      .map(c => StructField(c, StringType, nullable = true)))
  }

  /** RFC-4180-aware header split: quoted fields may contain commas and
    * doubled quotes; a leading UTF-8 BOM is stripped (it would otherwise
    * become part of the first column name and silently break
    * unionByName / downstream lookups).
    */
  private[sources] def splitCsvHeader(line: String): Array[String] = {
    val s = line.stripPrefix("\uFEFF")
    val out = Array.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') {
          cur += '"'; i += 1
        } else if (c == '"') inQuotes = false
        else cur += c
      } else c match {
        case '"' => inQuotes = true
        case ',' => out += cur.result().trim; cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result().trim
    out.result()
  }

  /** ORC scan — twin of [[Writers.writeOrc]]; pushdown/pruning work the
    * same as parquet (verify via explain: PushedFilters on the Orc scan).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4: partitioned parquet scan. The reference filters file paths by
    * "k=v" substrings manually (io_utils.py:95-120); Spark's partition
    * discovery + Catalyst partition pruning do this from a plain
    * `.where($"k" === v)` — verify via explain: PartitionFilters.
    */
  def readPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
