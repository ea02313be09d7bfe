package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite, with the library's SQL functions
  * injected the way a deployment enables them ([[GraftExtensions]]).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  def sf(name: String): String = s"/root/testdata/$name"
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
