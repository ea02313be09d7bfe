package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class GraphSpec extends SparkSpecBase {

  import spark.implicits._

  test("pageRank: rank mass is conserved (sums to 1) with dangling nodes") {
    // 1→2, 1→3, 2→3; 3 and 4 dangling; 4 isolated.
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(nodes, "id", edges, "src", "dst", iters = 5)
    val total = pr.agg(sum("pagerank")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-12)
  }

  test("pageRank: uniform cycle stays at the uniform fixed point") {
    // On a directed 4-cycle every node has in=out=1: rank 1/4 is exact
    // at every iteration, so any deviation exposes a formula bug.
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(nodes, "id", edges, "src", "dst", iters = 3)
      .collect()
    assert(pr.length === 4)
    pr.foreach(r => assert(math.abs(r.getAs[Double]("pagerank") - 0.25) < 1e-12))
  }

  test("pageRank: a sink pointed at by everyone outranks its sources") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val pr = Graph.pageRank(nodes, "id", edges, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(4L) > pr(1L) * 2)
    assert(math.abs(pr(1L) - pr(2L)) < 1e-15 && math.abs(pr(2L) - pr(3L)) < 1e-15)
  }

  test("kCorePeel: K5 with a pendant chain peels to exactly the K5") {
    // K5 on {1..5}: every degree 4. Chain 5-6-7: degrees 1-2. At k=3 the
    // chain peels away (6,7 in round 1; nothing else ever drops) and the
    // K5 survives with its internal degrees intact.
    val k5 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a, b)
    val edges = (k5 ++ Seq((5, 6), (6, 7))).toDF("s1", "s2")
    val core = Graph.kCorePeel(edges, k = 3, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(core.keySet == Set(1, 2, 3, 4, 5))
    assert((1 to 4).forall(v => core(v) == 4L))
    assert(core(5) == 4L) // pendant edge gone, only K5 edges remain
  }

  test("kCorePeel: cascading peel needs multiple rounds") {
    // Chain 1-2-3-4 + triangle {4,5,6}: at k=2, node 1 drops in round 1,
    // node 2 in round 2, node 3 in round 3 — the triangle survives.
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6))
      .toDF("s1", "s2")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(core.keySet == Set(4, 5, 6))
    assert(core.values.forall(_ == 2L))
  }

  test("kCorePeel: an empty edge list gives an empty (v, deg) frame") {
    val edges = Seq.empty[(Long, Long)].toDF("s1", "s2")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 3)
    assert(core.columns.toSeq == Seq("v", "deg"))
    assert(core.collect().isEmpty)
  }

  test("kCorePeel: negative ids peel like any others") {
    // the cascade spec's graph with every id negated
    val edges = Seq((-1L, -2L), (-2L, -3L), (-3L, -4L), (-4L, -5L),
      (-4L, -6L), (-5L, -6L)).toDF("s1", "s2")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(-4L -> 2L, -5L -> 2L, -6L -> 2L))
  }

  test("kCorePeel: string ids keep their type; rounds = 0 is no peel") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 1, "src", "dst")
    assert(core.schema("v").dataType == org.apache.spark.sql.types.StringType)
    assert(core.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    val none = Graph.kCorePeel(edges, k = 2, rounds = 0, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(none == Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
  }

  test("kCorePeel: edges with a null endpoint are dropped") {
    // triangle {1,2,3}; the null-endpoint edges would otherwise raise
    // 1's degree and add a null vertex
    val edges = Seq[(Option[Int], Option[Int])](
      (Some(1), Some(2)), (Some(2), Some(3)), (Some(1), Some(3)),
      (Some(1), None), (None, Some(1)), (None, None)).toDF("s1", "s2")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(core == Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
  }

  test("labelPropagate: path graph labels flow one hop per round") {
    // Path 1-2-3-4-5: after 1 round labels are (1,1,2,3,4) → sizes
    // {1:2, 2:1, 3:1, 4:1}; after 4 rounds min label 1 reaches node 5.
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5)).toDF("s1", "s2")
    val r1 = Graph.labelPropagate(edges, rounds = 1)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1 -> 2L, 2 -> 1L, 3 -> 1L, 4 -> 1L))
    val r4 = Graph.labelPropagate(edges, rounds = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(r4 == Map(1 -> 5L))
  }

  test("labelPropagate: run past the diameter = connected components") {
    // Two components {1,2,3} (triangle) and {7,8}: every node ends on
    // its component's min id, regardless of extra rounds.
    val edges = Seq((1, 2), (2, 3), (1, 3), (7, 8)).toDF("s1", "s2")
    val out = Graph.labelPropagate(edges, rounds = 5)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 3L, 7 -> 2L))
  }
}
