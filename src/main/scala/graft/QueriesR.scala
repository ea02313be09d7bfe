package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef.Q
import graft.ml.Clustering
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Catalog part R (round 9): the two web-scale data-selection passes a
  * training pipeline runs between dedup and sampling — SemDeDup-style
  * semantic (embedding-space) deduplication with a learned-cluster
  * block index, and DSIR importance weighting for target-distribution
  * data selection. Spark-first plans; exact sides fully oracled, the
  * approximate block index driver-gated on measured recall (the
  * ann1/e3d pattern).
  */
object QueriesR {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // T57 — SemDeDup (semantic dedup over embeddings, arXiv:2303.09540):
  // exact cosine near-dup pairs at the t11 threshold resolved to
  // survivors via connected components (both fully oracled: brute-force
  // pair CTE + recursive-CTE closure), alongside a recall gate on the
  // production path — k-means cells as the block index,
  // `Similarity.clusterBlockedPairs` with nprobe=4 so boundary pairs
  // can look across the border. Centroids are init-dependent (spark.ml
  // vs anything else never agree), so the BLOCKED side reduces to the
  // driver-gated boolean while the exact side carries the hash check.
  // Blocked pairs verify exact cosine inside each block, so precision
  // is 1 by construction and recall is the whole question: measured
  // 1.000 / 1.000 / 0.944 at sf0.001/0.01/0.1 with k=8, nprobe=4
  // (re-measured r15 at the maxIter=5 fit: 1.000 / 1.000 / 0.965)
  // (floor `T57RecallFloor`). The 0.45 bar
  // deliberately sits far below SemDeDup's usual ~0.95: low-cosine
  // pairs co-cluster far LESS (a k=16/nprobe=2 config measured recall
  // 0.57-0.71 here), so the gate runs the block index in its hardest
  // regime — at a deployment's high threshold near-dups share cells
  // almost surely. k self-sizes by `Clustering.cellsForCorpus`
  // (occupancy-constant — k=8 here IS that rule at the fixture's
  // operating occupancy); the fixed-k vs re-sized-k cost contrast and
  // the recall transfer were measured at 10x (README "Scale design
  // notes", `atScale.t57_semdedup_10x`).
  /** t57's blocked-recall floor: min across fixtures minus margin;
    * `RecallGateSpec` holds every fixture 0.02 above it.
    */
  val T57RecallFloor = 0.85

  /** t57's two pair sides over `emb` (vec_id, embedding), both as
    * (id_a, id_b): the exact cosine pairs (checkpointed) and the
    * k-means-blocked pairs whose share of them is the gated recall.
    */
  def t57Pairs(emb: DataFrame): (DataFrame, DataFrame) = {
    val exact = Similarity.exactThresholdPairs(
        emb, "vec_id", "embedding", 0.45)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val cents = Clustering.kmeansCentroids(emb, "embedding",
      k = 8, seed = 7L)
    val blocked = Similarity.clusterBlockedPairs(emb, "vec_id",
        "embedding", 0.45, cents, nprobe = 4)
      .select(col("id_a"), col("id_b"))
    (exact, blocked)
  }

  val t57 = Q("t57_semantic_dedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (exact, blocked) = t57Pairs(emb)
      val cc = Dedup.connectedComponents(
        emb.select(col("vec_id")), "vec_id", exact, "id_a", "id_b")
      val found = exact.join(blocked, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__found"))
      emb.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact_pairs")))
        .crossJoin(cc.where(col("vec_id") === col("cluster_id"))
          .agg(count(lit(1)).as("n_exact_kept")))
        .crossJoin(found)
        .select(col("n_vectors"), col("n_exact_pairs"),
          col("n_exact_kept"),
          // zero-pair guard: a regenerated fixture with NO exact
          // near-dup pairs makes the recall ratio NULL, which would fail
          // the driver compare as an opaque hash mismatch. Vacuous recall
          // is deliberately TRUE (matching the oracle's literal), and the
          // vacuity is legible on the same row: n_exact_pairs = 0.
          when(col("n_exact_pairs") === 0, lit(true))
            .otherwise(
              col("__found").cast("double") / col("n_exact_pairs") >=
                T57RecallFloor)
            .as("blocked_recall_ok"))
    },
    Some("""WITH RECURSIVE unit AS (SELECT vec_id AS id,
        list_transform(embedding::DOUBLE[],
          x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
            embedding::DOUBLE[]))) AS vec
        FROM embeddings),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b
        FROM unit a JOIN unit b ON a.id < b.id
        WHERE list_dot_product(a.vec, b.vec) >= 0.45),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, m) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.id, e.dst FROM reach r JOIN edges e ON r.m = e.src),
      cc AS (SELECT id, min(m) AS cluster_id FROM reach GROUP BY 1)
      SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        (SELECT count(*) FROM pairs) AS n_exact_pairs,
        (SELECT count(*) FROM cc WHERE id = cluster_id) AS n_exact_kept,
        true AS blocked_recall_ok"""),
    product = Some((s, d) => {
      // the deployed path alone: learned cells -> blocked pairs -> CC
      // survivorship; no exact twin anywhere in the plan
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = Clustering.kmeansCentroids(emb, "embedding",
        k = 8, seed = 7L)
      val blocked = Similarity.clusterBlockedPairs(emb, "vec_id",
          "embedding", 0.45, cents, nprobe = 4)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      Dedup.connectedComponents(emb.select(col("vec_id")), "vec_id",
          blocked, "id_a", "id_b")
        .where(col("vec_id") === col("cluster_id"))
    }))

  // T58 — DSIR importance weighting (arXiv:2302.03169): unigram-LM
  // log-ratio of a small target corpus (source src0) against the raw
  // pool, one score per raw document — deterministic end-to-end, so the
  // whole surface is hash-oracled (no gate needed). The add-one
  // smoothing over the JOINT vocabulary matches on both sides; docs
  // with zero tokens drop out on both sides (no evidence either way).
  val t58 = Q("t58_dsir_importance",
    (s, d) => TextAnalysis.importanceLogRatio(
      docs(s, d), "text", "doc_id", col("source") === "src0"),
    Some("""WITH toks AS (SELECT doc_id, source = 'src0' AS tgt,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents),
      tk AS (SELECT * FROM toks WHERE token <> ''),
      counts AS (SELECT token,
        sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t,
        sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS c_r
        FROM tk GROUP BY 1),
      tot AS (SELECT sum(c_t) AS tt, sum(c_r) AS tr, count(*) AS v
        FROM counts),
      lm AS (SELECT token,
        (c_t + 1)::DOUBLE / (tt + v) AS p_t,
        (c_r + 1)::DOUBLE / (tr + v) AS p_r
        FROM counts CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_tokens,
        round(avg(ln(p_t / p_r)) + 1e-9, 6) AS dsir_logratio
      FROM tk JOIN lm USING (token)
      WHERE NOT tgt
      GROUP BY 1"""))

  // T58B — DSIR over hashed buckets (the paper's actual construction,
  // arXiv:2302.03169 §2): tokens map to a FIXED 64-bucket space via the
  // engine-portable md5 hash before the LM builds, so the broadcast LM
  // frame is bounded at 64 rows no matter the corpus vocabulary — the
  // t58 variant a 100 TB crawl deploys. Fully deterministic end-to-end
  // (md5 reproduces in DuckDB), so hash-oracled like t58; the
  // OperatorPropertySpec pins that bucketed scores track exact scores.
  val t58b = Q("t58b_dsir_hashed",
    (s, d) => TextAnalysis.importanceLogRatioHashed(
      docs(s, d), "text", "doc_id", col("source") === "src0", buckets = 64),
    Some("""WITH toks AS (SELECT doc_id, source = 'src0' AS tgt,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents),
      tk AS (SELECT doc_id, tgt,
        CAST(('0x' || substr(md5(token), 1, 14)) AS BIGINT) % 64 AS bkt
        FROM toks WHERE token <> ''),
      counts AS (SELECT bkt,
        sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t,
        sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS c_r
        FROM tk GROUP BY 1),
      tot AS (SELECT sum(c_t) AS tt, sum(c_r) AS tr FROM counts),
      lm AS (SELECT bkt,
        (c_t + 1)::DOUBLE / (tt + 64) AS p_t,
        (c_r + 1)::DOUBLE / (tr + 64) AS p_r
        FROM counts CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_tokens,
        round(avg(ln(p_t / p_r)) + 1e-9, 6) AS dsir_logratio
      FROM tk JOIN lm USING (bkt)
      WHERE NOT tgt
      GROUP BY 1"""))

  val all: Seq[Q] = Seq(t57, t58, t58b)
}
