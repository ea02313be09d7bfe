package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Round-12 batch-3 operator specs: changelog materialization, MMR
  * diversified re-ranking, RAKE keyword extraction.
  */
class PartWSpec extends SparkSpecBase {

  import spark.implicits._

  test("applyLog: latest op wins per key, tombstoned keys vanish, " +
      "ties broken by the trailing order column") {
    val log = Seq(
      // key 1: insert, update, delete -> gone
      (1L, "insert", 10.0, 1L), (1L, "update", 20.0, 2L),
      (1L, "delete", 0.0, 3L),
      // key 2: insert, update -> update survives
      (2L, "insert", 1.0, 4L), (2L, "update", 2.0, 5L),
      // key 3: delete then REINSERT later -> reinsert survives
      (3L, "delete", 0.0, 6L), (3L, "insert", 7.0, 7L),
      // key 4: two ops at the SAME ts -> higher op_id wins
      (4L, "update", 5.0, 8L), (4L, "update", 6.0, 9L))
      .toDF("k", "op", "v", "op_id")
      .withColumn("t", when(col("k") === 4L, 100L).otherwise(col("op_id")))
    val got = Changelog.applyLog(log, Seq("k"),
      Seq(col("t"), col("op_id")), "op", Seq("delete"))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("op"), r.getAs[Double]("v"))).toMap
    assert(!got.contains(1L))
    assert(got(2L) == (("update", 2.0)))
    assert(got(3L) == (("insert", 7.0)))
    assert(got(4L) == (("update", 6.0)))
  }

  test("mmrSelect: diversification flips the second pick from the " +
      "duplicate to the distinct candidate; pure-relevance would not") {
    // Query 0 = [1,0,0]; candidates 1 and 2 are IDENTICAL (rel 0.6,
    // mutual sim 1.0), candidate 3 equally relevant but nearly
    // orthogonal to them (sim 0.36). With 0.5/0.5 weights step 2 scores
    // cand 2 at 0.5·0.6 − 0.5·1.0 = −0.2 vs cand 3 at 0.3 − 0.18 =
    // 0.12 -> the distinct one wins; a plain top-k (ties by id) would
    // return 1, 2.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.6f, 0.8f, 0.0f)),
      (2L, Seq(0.6f, 0.8f, 0.0f)),
      (3L, Seq(0.6f, 0.0f, 0.8f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(vecs, "vec_id", "embedding",
      k = 3, poolK = 3, relWeight = 0.5, penWeight = 0.5)
      .where(col("query_id") === 0L)
      .orderBy("step").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 3L, 2L))
    // step-1 score is relWeight · rel
    assert(math.abs(got.head.getAs[Double]("mmr_score") - 0.3) < 1e-5)
    // the duplicate's final score carries the full similarity penalty
    assert(math.abs(got.last.getAs[Double]("mmr_score") - (-0.2)) < 1e-4)
  }

  test("mmrSelect: negative ids select the same sequence as positive ones") {
    // the diversification fixture with every id moved below zero: the
    // picks must be the same full k = 3 sequence, not stop at step 1
    val vecs = Seq(
      (-10L, Seq(1.0f, 0.0f, 0.0f)),
      (-9L, Seq(0.6f, 0.8f, 0.0f)),
      (-8L, Seq(0.6f, 0.8f, 0.0f)),
      (-7L, Seq(0.6f, 0.0f, 0.8f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(vecs, "vec_id", "embedding",
      k = 3, poolK = 3, relWeight = 0.5, penWeight = 0.5)
      .where(col("query_id") === -10L)
      .orderBy("step").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(-9L, -7L, -8L))
    assert(got.map(_.getAs[Int]("step")).toSeq == Seq(1, 2, 3))
  }

  test("mmrSelect: every query keeps exactly k rows with dense steps " +
      "when the pool is full") {
    val emb = graft.Tables.embeddings(spark, sf("sf0.001"))
    val got = Similarity.mmrSelect(emb, "vec_id", "embedding",
      k = 3, poolK = 5, relWeight = 0.7, penWeight = 0.3)
    val n = emb.count()
    assert(got.count() == 3 * n)
    assert(got.groupBy("query_id")
      .agg(countDistinct(col("step")).as("s"))
      .where(col("s") =!= 3).count() == 0)
  }

  test("mmrSelectLsh: the production pool path keeps the per-query " +
      "contract (k dense steps, scores from quantized inputs)") {
    val emb = graft.Tables.embeddings(spark, sf("sf0.001"))
    val got = Similarity.mmrSelectLsh(emb, "vec_id", "embedding",
      k = 3, poolK = 5, relWeight = 0.7, penWeight = 0.3)
      .localCheckpoint(true)
    assert(got.groupBy("query_id")
      .agg(countDistinct(col("step")).as("s"), count(lit(1)).as("n"))
      .where(col("s") =!= col("n")).count() == 0)
    // LSH pools can run short for isolated vectors, never over k
    assert(got.groupBy("query_id").count()
      .agg(max(col("count"))).head().getLong(0) <= 3L)
  }

  test("rakeKeywords: degree/frequency scoring on a hand-computed corpus") {
    // doc 1: "red apple the red apple" -> phrase "red apple" twice;
    // freq(red) = 2, deg(red) = 2+2 = 4, score 2; same for apple;
    // phrase score = 4. doc 2: "banana" -> score 1.
    val docs = Seq((1L, "red apple the red apple"), (2L, "banana"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(docs, "doc_id", "text",
      Seq("a", "the"), topN = 10).collect()
    val byPhrase = got.map(r => r.getAs[String]("phrase") ->
      (r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_words"),
        r.getAs[Double]("rake_score"))).toMap
    assert(byPhrase("red apple") == ((2L, 2L, 4.0)))
    assert(byPhrase("banana") == ((1L, 1L, 1.0)))
    // ranked: the long co-occurring phrase outranks the singleton
    assert(got.head.getAs[String]("phrase") == "red apple")
  }

  test("rakeKeywords: stopwords at the edges and runs of stopwords " +
      "produce no empty phrases") {
    val docs = Seq((1L, "the a red fruit a a the green fruit the"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(docs, "doc_id", "text",
      Seq("a", "the"), topN = 10).collect()
    val phrases = got.map(_.getAs[String]("phrase")).toSet
    assert(phrases == Set("red fruit", "green fruit"))
    assert(got.forall(_.getAs[String]("phrase").nonEmpty))
    // fruit appears in two 2-word phrases: freq 2, deg 4, score 2;
    // red/green: freq 1, deg 2, score 2 -> both phrases score 4
    assert(got.forall(r =>
      math.abs(r.getAs[Double]("rake_score") - 4.0) < 1e-6))
  }
}
