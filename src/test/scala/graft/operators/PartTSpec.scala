package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ml.Clustering

/** Unit specs for the round-11 part-T operators: BFS hop distance,
  * Zipf fit, CDC chunking, grid-blocked DBSCAN, k-fold CV, split
  * conformal, retrieval metrics. Each checks exact hand-computable
  * cases plus the operator-defining property (blocking exactness,
  * complement-aggregate identity, edit resilience, …).
  */
class PartTSpec extends SparkSpecBase {
  import spark.implicits._

  private def h56(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 14), 16)
  }

  // ------------------------------------------------------ Graph.bfsHops

  test("bfsHops: path graph hops from one seed, horizon cut, isolated -1") {
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val out = Graph.bfsHops(nodes, "id", edges, "s", "d",
        seeds = col("id") === 1, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> -1,
      6L -> -1))
  }

  test("bfsHops: multi-source takes the min hop over seeds (symmetric)") {
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val out = Graph.bfsHops(nodes, "id", edges, "s", "d",
        seeds = col("id") === 1 || col("id") === 5, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0,
      6L -> -1))
  }

  // -------------------------------------------------- TextAnalysis.zipfFit

  test("zipfFit: an exact 1/rank corpus fits slope -1 with r2 = 1") {
    // counts 6, 3, 2 = 6/rank at ranks 1..3 → ln(cnt) = ln 6 − ln(rank)
    val docs = Seq("a a a b b c", "a a a b c").toDF("text")
    val r = TextAnalysis.zipfFit(docs, "text", topN = 10).collect().head
    assert(r.getAs[Long]("n_ranks") === 3L)
    assert(math.abs(r.getAs[Double]("slope") + 1.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(6)) < 1e-6)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-6)
  }

  test("zipfFit: topN cut keeps the most frequent tokens, ties by token") {
    val docs = Seq(Seq.fill(5)("x").mkString(" "),
      "y y y z z w").toDF("text")
    // counts: x=5, y=3, z=2, w=1 — topN=3 keeps x,y,z; w is cut
    val r = TextAnalysis.zipfFit(docs, "text", topN = 3).collect().head
    assert(r.getAs[Long]("n_ranks") === 3L)
    // closed-form expectation over the 3 kept (ln rank, ln count) points
    val pts = Seq((1.0, 5.0), (2.0, 3.0), (3.0, 2.0))
      .map { case (rk, c) => (math.log(rk), math.log(c)) }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getAs[Double]("slope") - want) < 1e-6)
  }

  // -------------------------------------------------- Dedup.cdcChunkStats

  private def pseudoText(seed: Int, n: Int): String = {
    val sb = new StringBuilder
    var x = seed
    (0 until n).foreach { _ =>
      x = (x * 1103515245 + 12345) & 0x7fffffff
      sb += ('a' + (x % 26)).toChar
    }
    sb.toString
  }

  test("cdcChunkStats: chunks tile the text; identical docs fully dup") {
    val s = pseudoText(7, 400)
    val docs = Seq((1L, s), (2L, s), (3L, pseudoText(99, 300)))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunkStats(docs, "doc_id", "text", 16, 64)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // chunks tile: total_chars = doc length
    assert(out(1L)._2 === 400L && out(3L)._2 === 300L)
    // identical docs: identical chunking, every chunk duplicated
    assert(out(1L) === out(2L))
    assert(out(1L)._3 === out(1L)._1 && out(1L)._4 === out(1L)._2)
  }

  test("cdcChunkStats: boundaries re-sync after a prefix edit " +
      "(the content-defined property a fixed-size chunker lacks)") {
    val s = pseudoText(11, 600)
    val docs = Seq((1L, s), (2L, "zqj" + s)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkStats(docs, "doc_id", "text", 16, 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4)))
      .toMap
    // after the first re-synced boundary every later chunk matches →
    // substantial duplicated chars despite the shifted prefix
    assert(out(1L)._2 > 300L, s"expected >300 dup chars, got ${out(1L)._2}")
    assert(out(2L)._2 > 300L)
  }

  // ------------------------------------------------ Clustering.dbscanGrid

  test("dbscanGrid: two blobs, a border point, and noise label exactly") {
    // blob A: 4 mutually-within-eps points; border b within eps of one
    // A-core only; blob B far away; n = noise
    val pts = Seq(
      (0L, 0.00, 0.00), (1L, 0.03, 0.00), (2L, 0.00, 0.03),
      (3L, 0.03, 0.03),                        // blob A (pairwise ≤ .05)
      (4L, 0.085, 0.00),                       // border: near id 1 only
      (10L, 2.00, 2.00), (11L, 2.03, 2.00), (12L, 2.00, 2.03),
      (13L, 2.03, 2.03),                       // blob B
      (20L, 5.00, 5.00))                       // noise
      .toDF("id", "x", "y")
    val out = Clustering.dbscanGrid(pts, "id", "x", "y",
        eps = 0.06, minPts = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        r.getLong(3))).toMap
    (0L to 3L).foreach { i => assert(out(i)._2 && out(i)._3 === 0L) }
    (10L to 13L).foreach { i => assert(out(i)._2 && out(i)._3 === 10L) }
    assert(!out(4L)._2 && out(4L)._3 === 0L)   // border joins blob A
    assert(!out(20L)._2 && out(20L)._3 === -1L) // noise
  }

  test("dbscanGrid: grid blocking is exact — labels match brute force " +
      "on 200 deterministic points") {
    val raw = (0 until 200).map { i =>
      (i.toLong, ((i * 97) % 1000) / 500.0 - 1.0,
        ((i * 61) % 1000) / 500.0 - 1.0)
    }
    val eps = 0.15
    val minPts = 4
    // brute-force reference: neighbor sets, core flags, CC, border
    val nbr = raw.map { case (i, x, y) =>
      i -> raw.filter { case (j, a, b) =>
        j != i && (x - a) * (x - a) + (y - b) * (y - b) <= eps * eps
      }.map(_._1).toSet
    }.toMap
    val core = raw.map(_._1).filter(i => nbr(i).size + 1 >= minPts).toSet
    val parent = scala.collection.mutable.Map(core.toSeq.map(i => i -> i): _*)
    def find(i: Long): Long =
      if (parent(i) == i) i else { val r = find(parent(i)); parent(i) = r; r }
    for (i <- core; j <- nbr(i) if core(j)) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val lbl = core.map(i => i -> find(i)).toMap
    val want = raw.map { case (i, _, _) =>
      val cluster =
        if (core(i)) lbl(i)
        else {
          val coreNbrs = nbr(i).filter(core)
          if (coreNbrs.nonEmpty) coreNbrs.map(lbl).min else -1L
        }
      i -> (nbr(i).size + 1L, core(i), cluster)
    }.toMap
    val got = Clustering.dbscanGrid(raw.toDF("id", "x", "y"), "id", "x",
        "y", eps, minPts)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        r.getLong(3))).toMap
    assert(got === want)
    // the frame plus a copy shifted past its x-extent and eps (ids
    // i·2 + c): the copies never interact, so the core, cluster and
    // noise counts must come out exactly 2×
    val shift = raw.map(_._2).max - raw.map(_._2).min + 2 * eps
    val twice = for (c <- 0 to 1; (i, x, y) <- raw)
      yield (i * 2 + c, x + c * shift, y)
    val counts = Clustering.dbscanGrid(twice.toDF("id", "x", "y"), "id",
        "x", "y", eps, minPts)
      .agg(sum(when(col("is_core"), 1L).otherwise(0L)),
        countDistinct(when(col("cluster") >= 0, col("cluster"))),
        sum(when(col("cluster") === -1L, 1L).otherwise(0L)))
      .head()
    val labels = want.values.map(_._3)
    assert(counts.getLong(0) === 2L * want.values.count(_._2))
    assert(counts.getLong(1) === 2L * labels.filter(_ >= 0).toSet.size)
    assert(counts.getLong(2) === 2L * labels.count(_ == -1L))
  }

  // ------------------------------------------------------ Stats.kFoldOlsCv

  test("kFoldOlsCv: exact linear data recovers (slope, intercept) in " +
      "every fold with zero held-out error; folds partition the rows") {
    val df = (1 to 500).map(i => (i.toLong, i * 0.01, 2.0 * (i * 0.01) + 1.0))
      .toDF("rid", "x", "y")
    val out = Stats.kFoldOlsCv(df, col("rid"), col("x"), col("y"), k = 4)
      .collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("slope") - 2.0) < 1e-5)
      assert(math.abs(r.getAs[Double]("intercept") - 1.0) < 1e-5)
      assert(r.getAs[Double]("rmse") < 1e-5)
      assert(r.getAs[Double]("mae") < 1e-5)
      assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") === 500L)
    }
    assert(out.map(_.getAs[Long]("n_test")).sum === 500L)
  }

  // --------------------------------------------------- Stats.splitConformal

  test("splitConformal: q_hat is the ceil((n+1)(1-alpha))-th calibration " +
      "|residual| and coverage matches a scalar replay of the same split") {
    val rows = (1 to 800).map { i =>
      val x = i * 0.01
      val noise = ((i * 37) % 11 - 5) / 10.0
      (i.toLong, x, 3.0 * x + noise)
    }
    val out = Stats.splitConformal(rows.toDF("rid", "x", "y"),
      col("rid"), col("x"), col("y"), alpha = 0.1).collect().head
    // scalar replay
    val bucket = rows.map { case (i, _, _) => i -> h56(i.toString) % 10 }
      .toMap
    val train = rows.filter(r => bucket(r._1) <= 5)
    val cal = rows.filter(r => { val b = bucket(r._1); b == 6 || b == 7 })
    val tst = rows.filter(r => bucket(r._1) >= 8)
    val n = train.size.toDouble
    val sx = train.map(_._2).sum; val sy = train.map(_._3).sum
    val sxx = train.map(r => r._2 * r._2).sum
    val sxy = train.map(r => r._2 * r._3).sum
    val b2 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a2 = (sy - b2 * sx) / n
    val ares = cal.map(r => math.abs(r._3 - (a2 + b2 * r._2))).sorted
    val k = math.min(math.ceil((cal.size + 1) * 0.9).toLong, cal.size.toLong)
    val q = ares((k - 1).toInt)
    val cov = tst.count(r => math.abs(r._3 - (a2 + b2 * r._2)) <= q)
      .toDouble / tst.size
    assert(out.getAs[Long]("n_train") === train.size.toLong)
    assert(out.getAs[Long]("n_cal") === cal.size.toLong)
    assert(out.getAs[Long]("n_test") === tst.size.toLong)
    assert(math.abs(out.getAs[Double]("q_hat") - q) < 1e-5)
    assert(math.abs(out.getAs[Double]("coverage") - cov) < 1e-5)
    // the distribution-free guarantee should roughly hold on this data
    assert(out.getAs[Double]("coverage") >= 0.8)
  }

  // --------------------------------------------- Similarity.retrievalMetrics

  test("retrievalMetrics: hand-computed P@k / MRR / nDCG on a fixed run") {
    // corpus: labels — q1 (id 1, label 0) has 2 relevant (ids 2, 3);
    // run for q1: ranks 1..3 = [irrelevant, relevant, relevant]
    val labels = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (5L, 1))
      .toDF("id", "label")
    val run = Seq((1L, 4L, 1), (1L, 2L, 2), (1L, 3L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val r = Similarity.retrievalMetrics(run, labels, "id", "label", k = 3)
      .collect().head
    assert(r.getAs[Long]("n_rel") === 2L)
    assert(math.abs(r.getAs[Double]("p_at_k") - 2.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("mrr") - 0.5) < 1e-6)
    val dcg = 1.0 / (math.log(3) / math.log(2)) +
      1.0 / (math.log(4) / math.log(2))
    val idcg = 1.0 + 1.0 / (math.log(3) / math.log(2))
    assert(math.abs(r.getAs[Double]("ndcg_at_k") - dcg / idcg) < 1e-6)
  }

  test("retrievalMetrics: no relevant retrieved → mrr 0, p/ndcg 0") {
    val labels = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1)).toDF("id", "label")
    val run = Seq((1L, 3L, 1), (1L, 4L, 2)).toDF("query_id", "neighbor_id",
      "rank")
    val r = Similarity.retrievalMetrics(run, labels, "id", "label", k = 2)
      .collect().head
    assert(r.getAs[Double]("p_at_k") < 1e-6)
    assert(r.getAs[Double]("mrr") < 1e-6)
    assert(r.getAs[Double]("ndcg_at_k") < 1e-6)
  }

  // -------------------------------------------- Stats.chiSquareUniformityBH

  test("chiSquareUniformityBH: matches a commons-math3 scalar BH replay " +
      "on skewed-vs-uniform groups") {
    // group A: all mass on one category (hugely significant);
    // B: mildly skewed; C: near-uniform
    val rows =
      (1 to 70).map(_ => ("A", 1)) ++
      (1 to 70).map(i => ("B", if (i <= 30) 1 else i % 7)) ++
      (1 to 70).map(i => ("C", i % 7))
    val df = rows.toDF("grp", "cat")
    val out = Stats.chiSquareUniformityBH(df, "grp", col("cat"),
      nCats = 7, q = 0.05).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("chi2"), r.getAs[Int]("p_rank"),
          r.getAs[Boolean]("rejected_bh"))).toMap
    // scalar replay
    val chi2 = rows.groupBy(_._1).map { case (g, rs) =>
      val n = rs.size.toDouble
      val s2 = rs.groupBy(_._2).values.map(c => c.size.toDouble *
        c.size).sum
      g -> (7 * s2 / n - n)
    }
    val dist = new org.apache.commons.math3.distribution
      .ChiSquaredDistribution(6.0)
    val ps = chi2.map { case (g, s) =>
      g -> (1.0 - dist.cumulativeProbability(s))
    }.toSeq.sortBy { case (g, p) => (p, g) }
    val m = ps.size
    val maxOk = ps.zipWithIndex
      .filter { case ((_, p), i) => p < 0.05 * (i + 1) / m }
      .map(_._2 + 1).:+(0).max
    ps.zipWithIndex.foreach { case ((g, _), i) =>
      assert(math.abs(out(g)._1 - chi2(g)) < 1e-4,
        s"$g chi2: ${out(g)._1} vs ${chi2(g)}")
      assert(out(g)._2 === i + 1, s"$g rank")
      assert(out(g)._3 === (i + 1 <= maxOk), s"$g rejected")
    }
    assert(out("A")._3, "the fully-skewed group must be rejected")
    assert(!out("C")._3, "the uniform group must survive")
  }

  // ------------------------------------------------- Similarity MIPS family

  test("mipsTopK: norms drive the ranking — MIPS top-1 differs from " +
      "cosine top-1 when a far-but-long vector dominates") {
    // q=[1,0]: cosine prefers a=[0.9,0.1] (cos .994), MIPS prefers
    // b=[5,5] (ip 5 vs 0.9)
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(5.0f, 5.0f))).toDF("id", "v")
    val qIds = Seq(Tuple1(1L)).toDF("id")
    val mips = Similarity.mipsTopK(vecs, qIds, "id", "v", k = 2).collect()
    assert(mips.head.getAs[Long]("neighbor_id") === 3L)
    val cos = Similarity.bruteForceTopKFor(vecs, qIds, "id", "v", k = 2)
      .collect()
    assert(cos.head.getAs[Long]("neighbor_id") === 2L)
  }

  test("mipsTopKLsh: surfaced pairs carry the TRUE inner product and " +
      "recall is high on a small corpus at a generous config") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(d =>
        (math.sin(i * 0.7 + d) * ((i % 4) + 1)).toFloat))
    }.toDF("id", "v")
    val qIds = Seq(0L, 7L, 31L).map(Tuple1(_)).toDF("id")
    val exact = Similarity.mipsTopK(vecs, qIds, "id", "v", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.mipsTopKLsh(vecs, qIds, "id", "v", k = 3,
        numPlanes = 2, numTables = 12, dim = 8)
      .collect()
    // true-ip property: every surfaced pair's ip equals the exact dot
    val raw = (0 until 60).map { i =>
      i.toLong -> Seq.tabulate(8)(d => (math.sin(i * 0.7 + d) *
        ((i % 4) + 1)).toFloat.toDouble)
    }.toMap
    lsh.foreach { r =>
      val want = raw(r.getAs[Long]("query_id"))
        .zip(raw(r.getAs[Long]("neighbor_id"))).map { case (a, b) => a * b }
        .sum
      assert(math.abs(r.getAs[Double]("ip") - want) < 1e-6)
    }
    val hits = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(exact).size
    assert(hits >= (exact.size * 0.6).toInt,
      s"recall ${hits.toDouble / exact.size} too low")
  }

  // ------------------------------------------------------ Association.rules

  test("Association.rules: hand-computed support/confidence/lift") {
    val baskets = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y"), (1L, "x") /* dup row ignored */)
      .toDF("b", "i")
    val out = Association.rules(baskets, "b", "i",
        minSupport = 0.0, minConfidence = 0.0)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getAs[Double]("support"),
          r.getAs[Double]("confidence"), r.getAs[Double]("lift"))).toMap
    // N=4 baskets; n(x)=3, n(y)=3, n(z)=1, n(x∧y)=2, n(x∧z)=1
    val xy = out(("x", "y"))
    assert(xy._1 === 2L)
    assert(math.abs(xy._2 - 0.5) < 1e-6)
    assert(math.abs(xy._3 - 2.0 / 3) < 1e-6)
    assert(math.abs(xy._4 - (2.0 / 3) / (3.0 / 4)) < 1e-6)
    val xz = out(("x", "z"))
    assert(math.abs(xz._4 - (1.0 / 3) / (1.0 / 4)) < 1e-6) // lift > 1
    assert(!out.contains(("y", "z"))) // never co-occur
  }

  test("Association.rules: thresholds filter on the raw ratios") {
    val baskets = Seq((1L, "x"), (1L, "y"), (2L, "x"), (3L, "x"))
      .toDF("b", "i")
    // x→y: support 1/3, conf 1/3; y→x: support 1/3, conf 1
    val out = Association.rules(baskets, "b", "i",
        minSupport = 0.3, minConfidence = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq === Seq(("y", "x")))
  }

  // ------------------------------------------- Graph.shortestPathsBounded

  test("shortestPathsBounded: weighted relaxation beats the hop-greedy " +
      "route and respects the hop bound") {
    // 1→2 cost 10 direct, but 1→3→2 costs 2+3=5 (two hops);
    // 4 reachable only via 3 hops (1→3→2→4)
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L),
      (2L, 4L, 1L)).toDF("s", "d", "w")
    val at3 = Graph.shortestPathsBounded(nodes, "id", edges, "s", "d",
        "w", seeds = col("id") === 1, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at3 === Map(1L -> 0, 2L -> 5, 3L -> 2, 4L -> 6, 5L -> -1))
    // hop bound 1: only direct edges, no relaxation through 3
    val at1 = Graph.shortestPathsBounded(nodes, "id", edges, "s", "d",
        "w", seeds = col("id") === 1, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at1(2L) === 10L && at1(3L) === 2L && at1(4L) === -1L)
  }

  test("shortestPathsBounded: parallel edges keep the cheapest; " +
      "symmetric traversal") {
    val nodes = (1L to 2L).toDF("id")
    val edges = Seq((1L, 2L, 7L), (2L, 1L, 3L)).toDF("s", "d", "w")
    val out = Graph.shortestPathsBounded(nodes, "id", edges, "s", "d",
        "w", seeds = col("id") === 2, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3, 2L -> 0))
  }

  // --------------------------------------------- DataValidator.refIntegrity

  test("refIntegrity: orphans, null FKs, and the intact verdict") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), Some(9L), Some(8L),
      None).toDF("fk")
    val r = graft.etl.DataValidator.refIntegrity("c->p", child, "fk",
      parent, "pk").collect().head
    assert(r.getAs[Long]("n_child_rows") === 6L)
    assert(r.getAs[Long]("n_null_fk") === 1L)
    assert(r.getAs[Long]("n_orphan_rows") === 3L)
    assert(r.getAs[Long]("n_orphan_keys") === 2L)
    assert(!r.getAs[Boolean]("intact"))
    val ok = graft.etl.DataValidator.refIntegrity("ok", parent, "pk",
      parent, "pk").collect().head
    assert(ok.getAs[Boolean]("intact"))
  }

  // ------------------------------------------- Sampling.interleaveBySource

  test("interleaveBySource: positions are unique, sortable, and " +
      "round-robin across sources") {
    val docs = (1 to 30).map(i => (i.toLong, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val out = graft.operators.Sampling.interleaveBySource(docs,
        "source", "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Int]("src_rank"),
        r.getAs[Long]("interleave_pos")))
    assert(out.map(_._4).distinct.length === 30) // injective
    // reading in interleave order cycles sources while all survive
    val firstSix = out.sortBy(_._4).take(6).map(_._2)
    assert(firstSix === Seq("src0", "src1", "src2", "src0", "src1",
      "src2"))
    // per-source ranks are a permutation of 1..n_source_docs
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1 to rs.length))
    }
  }
}
