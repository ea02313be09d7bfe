package graft

import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** Bench's pure measurement rules, and one stateless suite run over three
  * sf0.001 catalog queries plus a query that throws.
  */
class BenchSpec extends SparkSpecBase {

  test("cleanOf drops reps over 2x the window minimum and keeps the rest") {
    assert(Bench.cleanOf(Seq(1.0, 2.0, 2.5, 0.9)) == Seq(1.0, 0.9))
    assert(Bench.cleanOf(Seq(0.4, 0.8, 0.5)) == Seq(0.4, 0.8, 0.5))
    assert(Bench.cleanOf(Seq(3.0)) == Seq(3.0))
    assert(Bench.cleanOf(Seq.empty).isEmpty)
    assert(Bench.cleanMedian(Seq(2.55, 2.48, 0.57)) == 0.57)
  }

  test("escalating needs last > 2x first and over the 0.5 s floor") {
    assert(Bench.escalating(Seq(0.4, 0.6, 0.9)))
    assert(!Bench.escalating(Seq(0.1, 0.2, 0.45))) // sub-second floor
    assert(!Bench.escalating(Seq(1.0, 0.5, 1.9))) // under 2x
    assert(!Bench.escalating(Seq(2.0))) // one rep cannot escalate
  }

  test("repsFor: cheap queries get 3, budget pressure 1, never 0") {
    assert(Bench.repsFor(warmS = 0.05, leftS = 1500, queriesLeft = 300) == 3)
    assert(Bench.repsFor(warmS = 2.0, leftS = 300, queriesLeft = 100) == 1)
    assert(Bench.repsFor(warmS = 1.0, leftS = 300, queriesLeft = 100) == 2)
    assert(Bench.repsFor(warmS = 5.0, leftS = -50, queriesLeft = 10) == 1)
    assert(Bench.repsFor(warmS = 0.0, leftS = 10, queriesLeft = 0) == 3)
    for (w <- Seq(0.0, 0.01, 1.0, 100.0); l <- Seq(-1e3, 0.0, 5.0, 1e4);
         n <- Seq(0, 1, 300)) {
      val r = Bench.repsFor(w, l, n)
      assert(r >= 1 && r <= Bench.MaxReps, s"repsFor($w, $l, $n) = $r")
    }
  }

  test("a suite run measures fresh, lists a thrower under failed, and " +
    "ignores a stale artifact at the output path") {
    val names = Seq("f5_time_format", "p9_value_remap", "w1_lead_days_to_next")
    val thrower: Bench.QueryFn =
      (_, _) => throw new IllegalStateException("boom")
    val out = Files.createTempFile("bench_full", ".json")
    Files.writeString(out, """{"metric":"total","value":0.001,""" +
      """"queries":{"f5_time_format":{"median":0.001,"fp":"abc",""" +
      """"staleness":1,"record_source":"kept@abc"},"x_gone":""" +
      """{"median":0.002}},"anchor_median_s":1.0,"suite_cycle":2}""")
    val cfg = Bench.Config(sf("sf0.001"), "4", out.toString, budgetS = 600,
      anchor = false, anchorOnly = false, anchorRaw = "unused")
    val line = try Bench.run(spark, cfg,
      names.map(n => n -> SparkEntry.queries(n)) :+ ("zz_throws" -> thrower),
      Seq.empty)
    finally spark.catalog.clearCache()
    val full = Files.readString(out)
    Files.delete(out)

    val printed = parse(line)
    val JObject(qs) = printed \ "queries"
    assert(qs.map(_._1) == names)
    qs.foreach { case (n, v) =>
      val JDouble(m) = v
      assert(m > 0, n)
    }
    assert(printed \ "failed" ==
      JObject("zz_throws" -> JString("java.lang.IllegalStateException")))
    val JDouble(total) = printed \ "value"
    val sum = qs.map { case (_, JDouble(m)) => m; case _ => 0.0 }.sum
    assert(math.abs(total - sum) < 0.01)
    assert(printed \ "anchor_median_s" == JNothing)

    val art = parse(full)
    val JObject(aq) = art \ "queries"
    assert(aq.map(_._1) == names)
    aq.foreach { case (n, q) =>
      val JArray(reps) = q \ "reps"
      assert(reps.nonEmpty && reps.size <= Bench.MaxReps, n)
      val JDouble(m) = q \ "median"
      assert(m > 0 && m != 0.001, n)
    }
    assert(art \ "failed" \ "zz_throws" ==
      JString("java.lang.IllegalStateException"))
    for (k <- Seq("fp", "staleness", "record_source", "suite_cycle",
        "anchor_median_s", "x_gone"))
      assert(!full.contains("\"" + k + "\""), k)
    assert(!full.contains("kept@"))
  }
}
