package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class OperatorsSpec extends SparkSpecBase {

  import spark.implicits._

  test("rollingMeanStrict: null until the window holds n rows") {
    val df = (1 to 5).map(i => (i, i.toDouble)).toDF("t", "v")
    val out = TimeSeries.rollingMeanStrict(df, "t", "v", 3)
      .orderBy("t").select("rolling_avg_3").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getDouble(0) === 2.0)
    assert(out(4).getDouble(0) === 4.0)
  }

  test("pctChange and cumProd1p compose to the total growth factor") {
    val df = Seq((1, 100.0), (2, 110.0), (3, 99.0)).toDF("t", "v")
    val ret = TimeSeries.pctChange(df, "t", "v", "r")
      .where(col("r").isNotNull)
    val eq = TimeSeries.cumProd1p(ret, "t", "r", "equity")
      .orderBy(desc("t")).select("equity").head().getDouble(0)
    assert(math.abs(eq - 0.99) < 1e-12) // 99/100
  }

  test("zScores: standardized mean 0") {
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("t", "v")
    val z = TimeSeries.zScores(df, "v", "z").agg(sum("z")).head().getDouble(0)
    assert(math.abs(z) < 1e-12)
  }

  test("olsByGroup recovers a perfect line") {
    val df = (1 to 10).map(i => ("g", i.toDouble, 3.0 * i + 2.0))
      .toDF("g", "x", "y")
    val r = Stats.olsByGroup(df, Seq("g"), col("x"), col("y")).head()
    assert(math.abs(r.getAs[Double]("slope") - 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
  }

  test("anova: identical groups give F ~ 0, separated groups give large F") {
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val f0 = Stats.anova(same, "g", "v").head().getAs[Double]("f_stat")
    assert(math.abs(f0) < 1e-9)
    val sep = (1 to 20).map(i => ("a", i % 2 + 0.0)) ++
      (1 to 20).map(i => ("b", i % 2 + 100.0))
    val f1 = Stats.anova(sep.toDF("g", "v"), "g", "v").head()
    assert(f1.getAs[Double]("f_stat") > 1000)
    val p = Stats.fPValue(f1.getAs[Double]("f_stat"),
      f1.getAs[Double]("df_between"), f1.getAs[Double]("df_within"))
    assert(p < 1e-6)
  }

  test("bruteForceTopK finds the hand-checkable neighbor structure") {
    // v0 ~ v1 (near dup), v2 orthogonal, v3 = -v0
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.01f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceTopK(df, "vec_id", "embedding", 1)
    val n0 = knn.where(col("query_id") === 0).head()
    assert(n0.getAs[Long]("neighbor_id") === 1L)
    assert(n0.getAs[Double]("cosine") > 0.999)
    val n3 = knn.where(col("query_id") === 3).head()
    assert(n3.getAs[Long]("neighbor_id") === 2L) // orthogonal beats opposite
  }

  test("scalarQuantize: per-dimension error bounded by half a step; " +
      "range endpoints and constant dims reconstruct exactly") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 5.0f)),
      (1L, Seq(0.5f, 1.0f, 5.0f)),   // dim 2 constant across vectors
      (2L, Seq(-1.0f, 0.25f, 5.0f))).toDF("vec_id", "embedding")
    val rows = Similarity.scalarQuantize(df, "vec_id", "embedding")
      .select("id", "vec", "qvec")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toVector, r.getSeq[Double](2).toVector)).toSeq
    assert(rows.forall { case (_, v, q) => v.length == q.length })
    // Per-dim range from the UNIT vectors; |x - xq| <= step/2 (+ulp).
    val dims = rows.flatMap { case (_, v, _) => v.zipWithIndex }
      .groupBy(_._2).view.mapValues(xs => (xs.map(_._1).min, xs.map(_._1).max))
    rows.foreach { case (_, v, q) =>
      v.indices.foreach { i =>
        val (mn, mx) = dims(i)
        val halfStep = (mx - mn) / 255 / 2
        assert(math.abs(v(i) - q(i)) <= halfStep + 1e-12,
          s"dim $i: |${v(i)} - ${q(i)}| > $halfStep")
        // endpoints hit codes 0/255 → reconstruct to mn/mx exactly;
        // constant dims (mx == mn) take the code-0 path → mn.
        if (v(i) == mn || v(i) == mx)
          assert(math.abs(q(i) - v(i)) < 1e-12)
      }
    }
  }

  test("lshTopK recall vs brute force on real embeddings >= 60%") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 5,
      numPlanes = 4, numTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall $recall")
  }

  test("lshThresholdPairs matches exact near-dup pairs on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val unit = Similarity.withUnitVector(emb, "embedding", "vec")
      .select(col("vec_id").cast("long").as("id"), col("vec"))
    val l = unit.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val r = unit.select(col("id").as("id_b"), col("vec").as("vec_b"))
    val exact = l.crossJoin(r).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.fastDot(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshThresholdPairs(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // the 2-plane/16-table config is sized for ~1e-4 per-pair miss rate;
    // on the fixed test embeddings it recovers every pair
    assert(lsh === exact)
  }

  test("IVF multi-probe recall >= single-probe recall on real embeddings") {
    val d = sf("sf0.001")
    val exact = Similarity.bruteForceTopK(
        spark.read.parquet(d + "/embeddings.parquet"), "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(name: String): Double = {
      val approx = graft.SparkEntry.queries(name)(spark, d)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val single = recallOf("ann2_ivf_topk")
    val multi = recallOf("ann2b_ivf_multiprobe")
    // ann2c's catalog form is now the recall-audit row; rebuild its
    // underlying learned-quantizer top-k directly for the comparison
    val learned = {
      val base = spark.read.parquet(d + "/embeddings.parquet")
      val k = math.max(4, math.round(math.sqrt(base.count().toDouble)).toInt)
      val cents = graft.ml.Clustering.kmeansCentroids(
        base, "embedding", k, seed = 7L)
      val approx = Similarity.ivfTopK(base, "vec_id", "embedding", 5,
          cents, nprobe = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    info(f"IVF recall: single-probe $single%.3f, 2-probe $multi%.3f, " +
      f"learned-centroid 2-probe $learned%.3f")
    // measured on the fixed test embeddings: 0.21 single vs 0.33 2-probe
    // (naive id%37 centroids — the deterministic oracle-checkable forms)
    assert(multi >= single)
    assert(multi >= 0.3, s"2-probe recall $multi")
    // the deployment shape: KMeans cells follow the data's density, so
    // at the SAME nprobe the learned quantizer must beat the data-blind
    // one (measured: 0.374 vs 0.330 on the fixture)
    assert(learned >= multi, s"learned $learned vs multiprobe $multi")
  }

  test("lshThresholdPairsAuto: production config (0.85, 8 planes) recall " +
      ">= 0.95 with a shrunken candidate space") {
    // The driver fixtures contain no pairs above cosine 0.7, so the
    // production-threshold measurement plants seeded near-duplicates of
    // the REAL sf0.01 vectors: each planted vector is its base plus
    // orthogonal-ish gaussian noise sized for cosine ~0.93-0.97 — the
    // shape a crawled corpus's near-dups actually have.
    val rnd = new scala.util.Random(42)
    val base = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val planted = base.map { case (id, v) =>
      val eps = 0.25 + 0.15 * rnd.nextDouble()
      val g = Array.fill(v.length)(rnd.nextGaussian())
      val gn = math.sqrt(g.map(x => x * x).sum)
      val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
      val w = v.indices.map(i => (v(i) + (eps * vn * g(i) / gn)).toFloat)
      (100000L + id, w)
    }
    val corpus = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val n = base.length * 2L

    val exact = Similarity.exactThresholdPairs(
        corpus, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= base.length / 2,
      s"planting should create near-dup pairs, got ${exact.size}")

    val planes = 8
    val tables = Similarity.tablesForRecall(0.85, planes, 0.95)
    assert(tables >= 8 && tables <= 20, s"tables $tables")
    val lsh = Similarity.lshThresholdPairsAuto(
        corpus, "vec_id", "embedding", 0.85, numPlanes = planes)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((lsh -- exact).isEmpty, "LSH scores exact cosine — no false positives")
    val recall = (exact & lsh).size.toDouble / exact.size
    val candidates = Similarity.lshCandidatePairs(
      corpus, "vec_id", "embedding", planes, tables).count()
    val allPairs = n * (n - 1) / 2
    info(f"recall $recall%.4f, candidates $candidates of $allPairs " +
      f"(${100.0 * candidates / allPairs}%.1f%%), $tables tables")
    assert(recall >= 0.95, s"recall $recall")
    assert(candidates <= allPairs / 5,
      s"candidate space $candidates vs all-pairs $allPairs")
  }

  test("planesForCorpus: occupancy-constant sizing rule") {
    // the catalog operating point: N=2000 at occupancy 125 -> 4 planes
    assert(Similarity.planesForCorpus(2000, 125) === 4)
    // 10x the corpus at the same occupancy -> ceil(log2(160)) = 8:
    // re-sizing by this rule held a measured 10x wall at 5.5x where
    // fixed planes measured 34x (README "10× scale probes")
    assert(Similarity.planesForCorpus(20000, 125) === 8)
    // degenerate corpora never go below one plane
    assert(Similarity.planesForCorpus(16, 16) === 1)
    assert(Similarity.planesForCorpus(1, 1) === 1)
    // growing N at fixed occupancy is monotone non-decreasing
    val seq = Seq(1000L, 4000L, 16000L, 64000L)
      .map(Similarity.planesForCorpus(_, 125))
    assert(seq === seq.sorted)
  }

  test("e3d LSH elasticity audit: exact side sane, approximation " +
      "agreement booleans hold") {
    val row = graft.SparkEntry.queries("e3d_peer_elasticity_lsh")(
      spark, sf("sf0.001")).head()
    assert(row.getAs[Long]("n") > 0)
    val r2 = row.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0, s"r2 $r2")
    assert(row.getAs[Boolean]("lsh_n_within_5pct"))
    assert(row.getAs[Boolean]("lsh_slope_within_tol"))
    assert(row.getAs[Boolean]("lsh_r2_within_tol"))
  }

  test("anovaWithP: in-plan p-value matches the commons-math3 scalar") {
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      .select("event_type", "value")
    val row = Stats.anovaWithP(ev, "event_type", "value").head()
    val expected = Stats.fPValue(row.getAs[Double]("f_stat"),
      row.getAs[Double]("df_between"), row.getAs[Double]("df_within"))
    val p = row.getAs[Double]("p_value")
    assert(p >= 0.0 && p <= 1.0)
    assert(math.abs(p - expected) < 1e-12,
      s"expression p=$p vs driver-side p=$expected")
  }

  test("exact dedup + jaccard on synthetic near-duplicates") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (2L, "the quick brown fox jumps over the sleepy dog"), // near dup
      (3L, "completely different text about spark engines here"))
      .toDF("doc_id", "text")
    val exact = Dedup.exactTextDedup(docs, "text", "doc_id")
    assert(exact.count() === 3)
    assert(exact.where(col("n_copies") === 2).head().getAs[Long]("doc_id") === 0L)

    val jac = Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.3)
    val pairs = jac.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val j01 = jac.where(col("id_a") === 0 && col("id_b") === 1).head()
      .getAs[Double]("jaccard")
    assert(j01 === 1.0)
  }

  test("simhash: identical docs identical, near-dups close in hamming") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the sleepy dog"),
      (3L, "totally unrelated words appear in this sentence instead"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(0L) === fp(1L))
    assert(hamming(fp(0L), fp(2L)) < hamming(fp(0L), fp(3L)))
  }

  test("minhash estimated jaccard approximates exact jaccard") {
    val docs = Seq(
      (0L, "a b c d e f g h i j k l m n o p"),
      (1L, "a b c d e f g h i j k l m n o q"), // ~0.76 shingle jaccard
      (2L, "z y x w v u t s r q p o n m l k"))
      .toDF("doc_id", "text")
    val est = Dedup.minHashLshPairs(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, rowsPerBand = 4, threshold = 0.2)
    val e01 = est.where(col("id_a") === 0 && col("id_b") === 1)
    assert(e01.count() === 1)
    val v = e01.head().getAs[Double]("est_jaccard")
    assert(v > 0.4 && v <= 1.0, s"est_jaccard $v")
  }

  test("peer window agg matches a hand computation") {
    val events = Seq(
      (1L, 10L, "2024-01-01 00:00:00", 10.0),
      (2L, 10L, "2024-01-03 00:00:00", 20.0),
      (3L, 10L, "2024-01-05 00:00:00", 30.0),
      (4L, 20L, "2024-01-05 00:00:00", 99.0))
      .toDF("event_id", "user_id", "t", "value")
      .withColumn("ts", to_timestamp(col("t")))
    val out = PeerEffects.windowAgg(events, events, "user_id", "ts",
      "value", "event_id", 7)
    val m = out.collect().map(r =>
      r.getAs[Long]("event_id") -> (r.getAs[Long]("n_peers"),
        Option(r.getAs[Any]("peer_avg")))).toMap
    assert(m(1L)._1 === 0 && m(1L)._2.isEmpty)
    assert(m(2L)._1 === 1)
    assert(m(3L)._1 === 2 && m(3L)._2.contains(15.0))
    assert(m(4L)._1 === 0)
  }

  test("bucketed peer window agg agrees with the plain form") {
    val events = graft.Tables.events(spark, sf("sf0.001"))
    val probes = events.where(col("event_type") === "purchase")
    val plain = PeerEffects.windowAgg(probes, events, "user_id", "ts",
      "value", "event_id", 7).orderBy("event_id").collect()
    val bucketed = PeerEffects.windowAggBucketed(probes, events, "user_id",
      "ts", "value", "event_id", 7, 2).orderBy("event_id").collect()
    assert(plain.length === bucketed.length)
    plain.zip(bucketed).foreach { case (a, b) =>
      assert(a.getAs[Long]("event_id") === b.getAs[Long]("event_id"))
      assert(a.getAs[Long]("n_peers") === b.getAs[Long]("n_peers"))
    }
  }

  test("language id labels stopword-bearing text as english") {
    val docs = Seq(
      (0L, "the cat and the dog sat on the mat for a while"),
      (1L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val out = TextAnalysis.withLanguageId(docs, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(0L) === "en")
    assert(out(1L) === "und")
  }

  test("token and subword counts") {
    val docs = Seq((0L, "hello world"), (1L, "  "), (2L, "internationalization"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("nt"),
      TextAnalysis.subwordCountEstimate(col("text")).as("ns"))
      .as[(Long, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(0L) === ((2, 4L))) // ceil(5/4)+ceil(5/4)
    assert(out(1L) === ((0, 0L)))
    assert(out(2L) === ((1, 5L))) // ceil(20/4)
  }

  test("asOf join: inclusive tie, latest-prior pick, null when no prior, " +
      "per-key isolation") {
    val right = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "v")
    val left = Seq((1L, 15L, 100L), (1L, 25L, 101L), (1L, 20L, 102L),
      (1L, 5L, 103L), (2L, 7L, 104L))
      .toDF("k", "ts", "id")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "ts", Seq("v"))
      .select("id", "asof_v").as[(Long, String)].collect().toMap
    assert(out(100L) === "a")  // 10 <= 15 < 20 -> a
    assert(out(101L) === "b")  // latest prior is 20
    assert(out(102L) === "b")  // equal ts matches (inclusive <=)
    assert(out(103L) === null) // nothing at or before 5 for k=1
    assert(out(104L) === "c")  // other key sees only its own rows
  }

  test("asOfNearest picks the closer side, resolves ties backward, " +
      "and nulls outside tolerance") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    def tsDf(rows: Seq[(Long, Long, String)]) =
      rows.toDF("k", "sec", "v")
        .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("v"))
    val right = tsDf(Seq((1L, 100L, "a"), (1L, 200L, "b"),
      (1L, 1000L, "c"), (2L, 50L, "d")))
    val left = Seq((1L, 140L, 0L), (1L, 150L, 1L), (1L, 190L, 2L),
      (1L, 5000L, 3L), (1L, 100L, 4L), (2L, 49L, 5L))
      .toDF("k", "sec", "id")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("id"))
    val out = AsOfJoin.asOfNearest(left, right, Seq("k"), "ts",
        Seq("v"), toleranceSec = 300, prefix = "n_")
      .select("id", "n_v", "n_dir").as[(Long, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) === (("a", "backward"))) // 40 back vs 60 fwd
    assert(out(1L) === (("a", "backward"))) // tie 50/50 -> backward
    assert(out(2L) === (("b", "forward")))  // 90 back vs 10 fwd
    assert(out(3L) === ((null, null)))      // 4000s > tolerance
    assert(out(4L) === (("a", "backward"))) // exact hit, distance 0
    assert(out(5L) === (("d", "forward")))  // other key, 1s forward
  }

  test("redactPii masks every span type, counts them, leaves clean text") {
    val docs = Seq(
      (0L, "mail a@b.io and c.d+x@e-f.org today"),
      (1L, "call +1 555 123 4567 or +44 20-7946-0958 now"),
      (2L, "wallet 0x" + "ab12" * 10 + " paid"),
      (3L, "no pii here"),
      (4L, "a@b.io then +1 555 123 4567 then 0x" + "0" * 40))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "text")
      .select("doc_id", "text_redacted", "n_redactions")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(0L) === (("mail [EMAIL] and [EMAIL] today", 2L)))
    assert(out(1L) === (("call [PHONE] or [PHONE] now", 2L)))
    assert(out(2L) === (("wallet [ADDR] paid", 1L)))
    assert(out(3L) === (("no pii here", 0L)))
    assert(out(4L) === (("[EMAIL] then [PHONE] then [ADDR]", 3L)))
  }

  test("contaminationCheck counts distinct shared n-grams, flags at bound") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val cands = Seq(
      // shares 3 distinct 3-grams with bench (full containment)
      (0L, "zz alpha beta gamma delta epsilon yy"),
      // shares exactly 1 ("alpha beta gamma"), repeated — distinct = 1
      (1L, "alpha beta gamma xx alpha beta gamma"),
      (2L, "nothing shared at all here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contaminationCheck(cands, bench, "text",
        "doc_id", n = 3, minOverlap = 2)
      .select("doc_id", "n_overlap", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(0L) === ((3L, true)))
    assert(out(1L) === ((1L, false)))
    assert(!out.contains(2L)) // no overlap -> no row (inner join)
  }

  test("packShards: one file per shard, deterministic assignment, " +
      "key-sorted within shards") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val packed = Sampling.packShards(docs, "doc_id", numShards = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shards").toString
    graft.sources.Writers.writePartitioned(packed, dir, Seq("shard"))
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length === 8)
    // exactly one data file per shard (the point of packing)
    shardDirs.foreach { sd =>
      val parts = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 1, s"${sd.getName}: ${parts.length} files")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    // assignment is the pure md5 bucket — re-derivable from the key
    val mismatches = back.where(
      Sampling.hashBucket(col("doc_id"), 8) =!= col("shard")).count()
    assert(mismatches === 0L)
  }
}
