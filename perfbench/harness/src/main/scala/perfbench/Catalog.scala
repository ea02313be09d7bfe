package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{SparkEntry, Tables}
import graft.QueryDef.Q

/** The catalog workload: a fixed list of `SparkEntry.catalog` queries over
  * read-only input tables that are cached during set-up. An operation is
  * one query: build (`q.fn`, including any job an operator runs eagerly)
  * then execute (the noop write).
  */
final class Catalog(dir: String, names: Seq[String]) extends Workload {
  private val byName: Map[String, Q] =
    SparkEntry.catalog.map(q => q.name -> q).toMap

  private def query(name: String): Q =
    byName.getOrElse(name, throw new NoSuchElementException(
      s"no catalog query named $name"))

  def setup(spark: SparkSession, tag: String): Unit = {
    Catalog.cacheTables(spark, dir)
    names.foreach { n =>
      // a failure here shows again, and is counted, in the timed passes
      try Materialize(query(n).fn(spark, dir)) catch { case NonFatal(_) => () }
    }
  }

  /** The warmup pass computes each query's row count and digest. */
  def setupAndCheck(spark: SparkSession, tag: String): Seq[Map[String, Any]] = {
    Catalog.cacheTables(spark, dir)
    names.map(n => Catalog.digestOf(n, query(n).fn(spark, dir)))
  }

  def pass(spark: SparkSession, index: Int,
      trace: Option[(Tracer, SparkCounters)]): Seq[Map[String, Any]] =
    names.map { n =>
      trace match {
        case None => Catalog.timed(n, query(n).fn(spark, dir))
        case Some((tracer, counters)) =>
          val before = counters.snapshot()
          val op = tracer.span(s"query $n")(
            Catalog.timed(n, query(n).fn(spark, dir), Some(tracer)))
          op + ("spark" -> (counters.snapshot() - before).toMap)
      }
    }
}

object Catalog {

  /** Marks every input table cached; the warmup pass fills the cache of
    * the tables the workload reads.
    */
  def cacheTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(t => Tables.load(spark, dir, t).cache())

  /** Times build and execute of one query; an exception makes the record
    * a failure and no latency sample.
    */
  def timed(name: String, build: => DataFrame,
      tracer: Option[Tracer] = None): Map[String, Any] = {
    def span[A](s: String)(f: => A): A = tracer.fold(f)(_.span(s)(f))
    val t0 = System.nanoTime()
    try {
      val df = span("build")(build)
      val t1 = System.nanoTime()
      span("execute")(Materialize(df))
      val t2 = System.nanoTime()
      Map("name" -> name, "ok" -> true, "build_s" -> (t1 - t0) / 1e9,
        "execute_s" -> (t2 - t1) / 1e9)
    } catch {
      case NonFatal(e) => Map("name" -> name, "ok" -> false,
        "error" -> Workload.error(e), "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Row count and an order-insensitive digest of the full result: the
    * sum over rows of a hash of the row's JSON rendering, with top-level
    * floating-point columns rounded to 6 decimals.
    */
  def digest(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val canon = pos.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val json = to_json(struct(canon: _*))
    val p = lit(1000000007L)
    val r = pos.agg(count(lit(1)), sum(pmod(xxhash64(json), p)),
      sum(pmod(xxhash64(json, lit("perfbench")), p))).head()
    val sums = if (r.isNullAt(1)) "" else s"${r.getLong(1)}-${r.getLong(2)}"
    (r.getLong(0), sums)
  }

  def digestOf(name: String, build: => DataFrame): Map[String, Any] =
    try {
      val (rows, d) = digest(build)
      Map("name" -> name, "rows" -> rows, "digest" -> d)
    } catch {
      case NonFatal(e) => Map("name" -> name, "error" -> Workload.error(e))
    }

  /** Every named query once warm and twice timed, plus its digest: the
    * data behind the frozen query lists and their expected values.
    */
  def survey(spark: SparkSession, dir: String,
      names: Seq[String]): Map[String, Any] = {
    cacheTables(spark, dir)
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val rows = names.map { n =>
      val fn = byName(n).fn
      val runs = (0 until 3).map(_ => timed(n, fn(spark, dir)))
      System.gc()
      digestOf(n, fn(spark, dir)) + ("runs" -> runs)
    }
    Map("queries" -> rows)
  }
}
