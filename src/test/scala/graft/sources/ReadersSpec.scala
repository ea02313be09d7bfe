package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpecBase

class ReadersSpec extends SparkSpecBase {

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }.size
  }

  test("splitCsvHeader: quoted commas, doubled quotes, BOM strip") {
    assert(Readers.splitCsvHeader("a,b,c").toSeq === Seq("a", "b", "c"))
    assert(Readers.splitCsvHeader("\"price, usd\",name").toSeq ===
      Seq("price, usd", "name"))
    assert(Readers.splitCsvHeader("\"say \"\"hi\"\"\",x").toSeq ===
      Seq("say \"hi\"", "x"))
    assert(Readers.splitCsvHeader("\uFEFFchain,event_id").toSeq ===
      Seq("chain", "event_id"))
    assert(Readers.splitCsvHeader(" padded , cols ").toSeq ===
      Seq("padded", "cols"))
  }

  test("readCsvUnionByName: quoted header comma yields one column, " +
      "BOM does not leak into the first name") {
    val dir = Files.createTempDirectory("graft_readers").toString
    val f1 = s"$dir/a.csv"
    Files.writeString(java.nio.file.Paths.get(f1),
      "\uFEFF\"price, usd\",name\n1.5,x\n")
    val df = Readers.readCsvUnionByName(spark, Seq(f1))
    assert(df.columns.toSeq === Seq("price, usd", "name"))
    assert(df.count() === 1)
  }

  test("splitCsvHeader inverts RFC-4180 rendering for arbitrary names") {
    // property-style: render any field list per RFC-4180 (quote when the
    // name holds a comma/quote/outer space, double the quotes), then the
    // split must return exactly the original names
    def render(fields: Seq[String]): String =
      fields.map { f =>
        if (f.exists(c => c == ',' || c == '"') || f != f.trim)
          "\"" + f.replace("\"", "\"\"") + "\""
        else f
      }.mkString(",")
    val rnd = new scala.util.Random(11)
    val alphabet = "abzXY901 ,\"._-"
    for (_ <- 1 to 200) {
      val fields = (1 to 1 + rnd.nextInt(8)).map { _ =>
        val raw = (1 to 1 + rnd.nextInt(10))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        raw.trim match { case "" => "x"; case t => t } // split() trims
      }
      val line = render(fields)
      assert(Readers.splitCsvHeader(line).toSeq === fields,
        s"header line: <$line>")
    }
  }

  test("readCsvUnionByName: empty header fails with a clear message") {
    val dir = Files.createTempDirectory("graft_readers2").toString
    val f = s"$dir/empty.csv"
    Files.writeString(java.nio.file.Paths.get(f), "")
    val e = intercept[IllegalArgumentException] {
      Readers.readCsvUnionByName(spark, Seq(f))
    }
    assert(e.getMessage.contains("empty CSV header"))
  }

  test("readCsvUnionByName: one scan per distinct header, same result as " +
      "the per-file union") {
    val dir = Files.createTempDirectory("graft_readers_grouped").toString
    def write(name: String, text: String): String = {
      val p = Paths.get(dir, name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
      p.toString
    }
    val files = Seq(
      write("a1.csv", "a,b\n1,x\n2,y\n") -> Seq("a", "b"),
      write("wide.csv", "a,b,c\n3,z,extra\n") -> Seq("a", "b", "c"),
      write("a2.csv", "a,b\n4,w\n") -> Seq("a", "b"),
      // same names, other order: CSV maps by position, so its own scan
      write("swapped.csv", "b,a\nv,5\n") -> Seq("b", "a"),
      // a directory path, read through its first file's header
      { write("part/p0.csv", "a,b\n6,u\n"); write("part/p1.csv", "a,b\n7,t\n")
        s"$dir/part" } -> Seq("a", "b"))
    val grouped = Readers.readCsvUnionByName(spark, files.map(_._1))
    val perFile = files.map { case (p, names) =>
      spark.read.option("header", "true").option("mode", "PERMISSIVE")
        .schema(StructType(names.map(StructField(_, StringType))))
        .csv(p)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    assert(grouped.columns.toSeq === Seq("a", "b", "c"))
    assert(grouped.columns.toSeq === perFile.columns.toSeq)
    def rows(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.getString(0))
    assert(rows(grouped) === rows(perFile))
    assert(rows(grouped).map(_.getString(0)) ===
      Seq("1", "2", "3", "4", "5", "6", "7"))
    // headers (a,b), (a,b,c) and (b,a): three scans for six files
    assert(Plans.scans(grouped) === 3)
    assert(Plans.scans(perFile) === files.size)
  }
}
