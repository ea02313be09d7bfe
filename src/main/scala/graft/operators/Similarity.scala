package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity / KNN operators (SURVEY §2.10 M7, §2.6 J12; plus
  * the ANN scale path for a training-data pipeline).
  *
  * The reference materializes a full N×N NumPy cosine matrix in memory
  * (analyze_peer_effects.py:55-97) — a hard ceiling around ~10^5 vectors.
  * Here the exact form is a crossJoin whose dot product runs inside
  * codegen'd higher-order functions, and the scale path (LSH bucketing)
  * replaces the O(N²) pair space with an equi-join on hash buckets.
  *
  * All arithmetic is done in Double regardless of the stored Float type:
  * identical left-to-right folds then agree bit-for-bit across engines,
  * which the oracle comparison relies on.
  */
object Similarity {

  /** dot(a, b) via zip_with + aggregate — whole-stage-codegen'd, no UDF. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Normalize once, up front: cosine becomes a plain dot product, saving
    * the per-pair norm recomputation inside the N×N loop.
    */
  def withUnitVector(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    df.withColumn(outCol, transform(v, x => x / l2Norm(v)))
  }

  /** Fused no-allocation dot product (custom codegen Expression) — the
    * hot-loop form. The HOF `dot` above stays as the composable/pedagogic
    * variant; this one is ~10× faster inside N² joins.
    */
  def fastDot(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dot(a, b)

  /** Vectors upcast to double and pre-scaled to unit length ONCE — the N²
    * inner loop then computes a single dot product per pair instead of
    * dot + two norms (3× the array scans).
    */
  private def unitVectors(df: DataFrame, idCol: String, vecCol: String,
      fanOut: Boolean = false) = {
    val v = transform(col(vecCol), x => x.cast("double"))
    // fanOut = true for the brute-force N×N consumers: the pair loop
    // inherits the scan's partition count on the streamed side, so a
    // one-row-group input would run the whole pair space single-threaded
    // (see [[Fan.out]]). The LSH/IVF paths leave it off — their cost is
    // many small shuffle stages, not per-row compute, and widening every
    // stage to defaultParallelism just multiplies task overhead.
    val pruned = df.select(col(idCol).cast("long").as("id"), v.as("raw"))
    (if (fanOut) Fan.outIfNarrow(pruned) else pruned)
      .select(col("id"),
        transform(col("raw"), x => x / l2Norm(col("raw"))).as("vec"))
  }

  /** Exact top-k cosine neighbors for every vector (brute force).
    * Correctness baseline; O(N²) pairs — right up to ~10^4-10^5 vectors,
    * after which `lshTopK` is the scale path. Ties broken by neighbor id
    * so results are deterministic.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
    val l = base.select(col("id").as("query_id"), col("vec").as("vec_a"))
    val r = base.select(col("id").as("neighbor_id"), col("vec").as("vec_b"))
    val pairs = l.crossJoin(r)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Filtered (attribute-constrained) exact top-k cosine retrieval: the
    * "vector search WHERE label = X" shape every production retrieval
    * stack needs — RAG over one tenant's documents, hard negatives from
    * the same class, near-dups within a language. The filter attribute
    * IS the blocking key: candidates come from an EQUI-join on
    * `blockCol`, so the pair space is Σ_b n_b² (per-block), never N² —
    * post-filtering an unconstrained ANN index at low selectivity
    * returns starved result sets; pre-blocking cannot. Exact within each
    * block (ties broken by neighbor id); at extreme block sizes compose
    * [[lshTopK]] WITHIN blocks by prepending the block to the bucket
    * key — same plan shape, banded.
    */
  def filteredTopK(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, k: Int): DataFrame = {
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
      .join(df.select(col(idCol).cast("long").as("id"),
        col(blockCol).as("__blk")), "id")
    val l = base.select(col("id").as("query_id"), col("__blk"),
      col("vec").as("vec_a"))
    val r = base.select(col("id").as("neighbor_id"), col("__blk"),
      col("vec").as("vec_b"))
    val pairs = l.join(r, "__blk")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__blk").as("block"),
        col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("block"), col("neighbor_id"),
        col("rank"), round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Maximal Marginal Relevance diversified re-ranking (Carbonell &
    * Goldstein '98): from each query's top-`poolK` exact candidates,
    * greedily select `k` maximizing relW·rel(c) − penW·max_{s∈selected}
    * sim(c, s) — the de-duplicating re-rank that keeps a retrieval (or
    * a training-data sample) from spending its budget on near-copies.
    * Determinism across engines is engineered: relevances and
    * candidate-candidate similarities are QUANTIZED (round 6) before
    * the greedy loop, the top-`poolK` pool cut itself ranks on the
    * QUANTIZED cosine (so pool membership is not fp-boundary-sensitive
    * either), weights are passed as literals (never computed as 1−λ,
    * whose fp value differs from the literal), and every argmax
    * tie-breaks by candidate id — so the selection sequence is
    * bit-reproducible. Work per step is one bounded join on the
    * selected set (≤ k·poolK rows per query, constants); the pool
    * itself is the only data-sized stage and composes over
    * [[lshTopKAuto]] at corpus scale.
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String, k: Int,
      poolK: Int, relWeight: Double, penWeight: Double): DataFrame = {
    require(k >= 1 && poolK >= k, s"need 1 <= k <= poolK; got $k, $poolK")
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
    val l = base.select(col("id").as("query_id"), col("vec").as("vec_q"))
    val r = base.select(col("id").as("cand_id"), col("vec").as("vec_c"))
    val wPool = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand_id"))
    val pool = l.crossJoin(r)
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("vec_c"),
        round(fastDot(col("vec_q"), col("vec_c")) + lit(1e-9), 6)
          .as("rel"))
      .withColumn("__pr", row_number().over(wPool))
      .where(col("__pr") <= poolK)
      .select(col("query_id"), col("cand_id"), col("rel"), col("vec_c"))
    mmrGreedy(pool, k, relWeight, penWeight)
  }

  /** The MMR production path: same greedy selection, candidate pool
    * from [[lshTopKAuto]] instead of the exact pair loop — the shape a
    * deployment runs at corpus scale (the greedy steps are identical
    * bounded joins either way; only pool generation changes cost
    * class). Diversified results inherit the index's recall, which
    * ann1's gate audits.
    */
  def mmrSelectLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
      poolK: Int, relWeight: Double, penWeight: Double): DataFrame = {
    require(k >= 1 && poolK >= k, s"need 1 <= k <= poolK; got $k, $poolK")
    val pool = lshTopKAuto(df, idCol, vecCol, poolK)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("cosine").as("rel"))
      .join(unitVectors(df, idCol, vecCol)
        .select(col("id").as("cand_id"), col("vec").as("vec_c")),
        "cand_id")
    mmrGreedy(pool, k, relWeight, penWeight)
  }

  /** Greedy MMR over a prepared candidate pool (query_id, cand_id,
    * rel quantized to 6, vec_c unit vector) — see [[mmrSelect]] for the
    * determinism contract.
    */
  private def mmrGreedy(poolIn: DataFrame, k: Int, relWeight: Double,
      penWeight: Double): DataFrame = {
    // r16 (guide §1.2/§2.4 — the whole greedy loop in ONE map-side
    // expression): the MMR recurrence is sequential, but each query's
    // state is tiny (poolK candidates + their unit vectors), so instead
    // of k-1 driver-loop steps — each an anti-join + penalty groupBy +
    // argmax window + eager checkpoint (r15 shape: ~7 actions, ~5 s at
    // sf0.1) — the pool is packed to ONE row per query and the whole
    // selection runs as a runtime `aggregate` fold over sequence(1, k):
    // per step, filter out selected ids, score the remainder
    // (relW·rel − penW·max sim to the selected set, sims computed from
    // the packed unit vectors with the same round(dot + 1e-9, 6)
    // quantization), and append the argmax (ties → smallest cand_id —
    // the comparator below is exactly the old window's (__mmr DESC,
    // cand_id ASC) order). The fold's expression size is CONSTANT in k
    // (one lambda, k runtime iterations), the plan is one shuffle (the
    // packing groupBy) with zero checkpoints, and the output was
    // verified bit-identical to the r15 loop at sf0.1 (10,000 rows, 0
    // mismatches) — argmax/penalty/quantization arithmetic is the same,
    // and max/argmax are scan-order-insensitive, so the array_sort
    // canonicalization of collect_list order is belt-and-braces.
    // Higher-order-function lambdas evaluate interpreted, so the packed
    // frame is spread over defaultParallelism partitions (the packing
    // shuffle is keyed on query_id, which the groupBy reuses — AQE
    // would otherwise coalesce the tiny packed frame to one task and
    // serialize the fold).
    val par = poolIn.sparkSession.sparkContext.defaultParallelism
    val packed = poolIn
      .repartition(par, col("query_id"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(
        struct(col("cand_id"), col("rel"), col("vec_c")))).as("cands"))
    val negInf = lit(Double.NegativeInfinity)
    def simC(a: Column, b: Column): Column =
      round(fastDot(a, b) + lit(1e-9), 6)
    val selType =
      "array<struct<cand_id:bigint,mmr:double,vec_c:array<double>>>"
    val selected = aggregate(sequence(lit(1), lit(k)),
      expr(s"cast(array() as $selType)"),
      (selA, _) => {
        val remaining = filter(col("cands"), c =>
          !exists(selA,
            s => s.getField("cand_id") === c.getField("cand_id")))
        val scored = transform(remaining, c => struct(
          c.getField("cand_id").as("cand_id"),
          (lit(relWeight) * c.getField("rel") - when(size(selA) > 0,
            lit(penWeight) * aggregate(selA, negInf, (m, s) =>
              greatest(m, simC(c.getField("vec_c"), s.getField("vec_c")))))
            .otherwise(lit(0.0))).as("mmr"),
          c.getField("vec_c").as("vec_c")))
        // `found` marks a real pick, so any cand_id (negative ones too)
        // can win; the zero's other fields are never read
        val best = aggregate(scored,
          expr("named_struct('found', false, " +
            "'s', named_struct('cand_id', cast(null as bigint), " +
            "'mmr', cast(null as double), " +
            "'vec_c', cast(null as array<double>)))"),
          (b, c) => when(!b.getField("found") ||
              c.getField("mmr") > b.getField("s").getField("mmr") ||
              (c.getField("mmr") === b.getField("s").getField("mmr") &&
                c.getField("cand_id") < b.getField("s").getField("cand_id")),
              struct(lit(true).as("found"), c.as("s")))
            .otherwise(b))
        // a query whose pool is exhausted before step k stops growing —
        // the same "fewer than k rows" semantics as the joined loop
        when(best.getField("found"), concat(selA, array(best.getField("s"))))
          .otherwise(selA)
      })
    packed
      .select(col("query_id"), posexplode(selected).as(Seq("__p", "s")))
      .select(col("query_id"), (col("__p") + 1).cast("int").as("step"),
        col("s.cand_id").as("neighbor_id"),
        round(col("s.mmr") + lit(1e-9), 6).as("mmr_score"))
  }

  /** Local Outlier Factor (Breunig et al., SIGMOD'00) over cosine
    * distance: density-relative anomaly scoring for embedding spaces —
    * the curation screen that flags points whose local density is far
    * below their neighbors' (mislabeled scrapes, off-distribution docs)
    * where a global z-score sees nothing. dist = 1 − cosine, QUANTIZED
    * (round 6) before the k-NN cut with id tie-breaks, so neighborhood
    * membership — and hence every downstream k-distance / reachability
    * value — is bit-reproducible cross-engine (the mmr pool rule).
    * lrd(p) = k / Σ_{o∈kNN(p)} max(kdist(o), d(p,o));
    * LOF(p) = mean_{o∈kNN(p)} lrd(o) / lrd(p). Exact O(N²) pair side is
    * the documented oracle baseline (j12's argument, plan-truncated by
    * the eager checkpoint); [[lofScoresLsh]] is the production twin over
    * [[lshTopKAuto]] candidates — identical formula, bucketed pair
    * space.
    */
  def lofScores(df: DataFrame, idCol: String, vecCol: String, k: Int,
      topN: Int): DataFrame = {
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
    val l = base.select(col("id").as("query_id"), col("vec").as("vec_a"))
    val r = base.select(col("id").as("neighbor_id"), col("vec").as("vec_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id"))
    val knn = l.crossJoin(r)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (lit(1.0) - round(fastDot(col("vec_a"), col("vec_b")) + lit(1e-9),
          6)).as("dist"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist"))
      // eager plan cut (see mmrGreedy's contract): kdist, reachability,
      // and the final LOF join all read ONE materialized kNN set
      .localCheckpoint(true)
    lofFromKnn(knn, k, topN)
  }

  /** LOF production path: same formula, kNN candidates from
    * [[lshTopKAuto]] — scores inherit the index's recall (ann1's gate).
    */
  def lofScoresLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
      topN: Int): DataFrame = {
    val knn = lshTopKAuto(df, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(1.0) - col("cosine")).as("dist"))
      .localCheckpoint(true)
    lofFromKnn(knn, k, topN)
  }

  /** LOF algebra over a prepared (query_id, neighbor_id, dist) kNN set:
    * three thin joins on the |N|·k frame, never the pair space.
    */
  private def lofFromKnn(knn: DataFrame, k: Int, topN: Int): DataFrame = {
    val kdist = knn.groupBy(col("query_id").as("__o"))
      .agg(max(col("dist")).as("kdist"))
    val reach = knn.join(kdist, col("neighbor_id") === col("__o"))
      .select(col("query_id"), col("neighbor_id"),
        greatest(col("kdist"), col("dist")).as("reach"))
    // sum(reach) = 0 is reachable when >= k+1 vectors quantize to
    // pairwise distance 0 (rounded cosine = 1.0): unguarded division
    // would yield Infinity, then lof = inf/inf = NaN, which sorts ABOVE
    // every number in Spark desc order while DuckDB's semantics differ.
    // Null lrd instead (the point has no measurable local density); the
    // null propagates to lof and the nulls-last cut drops it from top-N
    // identically in both engines.
    val lrd = reach.groupBy(col("query_id"))
      .agg(when(sum(col("reach")) > 0,
        lit(k.toDouble) / sum(col("reach"))).as("lrd"))
      .localCheckpoint(true) // consumed as both the p-side and o-side
    knn
      .join(lrd.select(col("query_id").as("neighbor_id"),
        col("lrd").as("__lrd_o")), "neighbor_id")
      .groupBy(col("query_id"))
      .agg((sum(col("__lrd_o")) / lit(k.toDouble)).as("__avg_lrd_o"),
        count(lit(1)).as("n_neighbors"))
      .join(lrd, "query_id")
      .select(col("query_id").as("vec_id"), col("n_neighbors"),
        round(col("lrd") + lit(1e-9), 6).as("lrd"),
        round(col("__avg_lrd_o") / col("lrd") + lit(1e-9), 6).as("lof"))
      .orderBy(col("lof").desc_nulls_last, col("vec_id")).limit(topN)
  }

  /** Matryoshka prefix-truncation recall audit (Kusupati et al.,
    * NeurIPS'22): retrieval over only the FIRST `dims` dimensions of the
    * embedding versus the full vector — the storage/latency knob
    * MRL-trained embedding stacks actually ship (a 16-of-64 prefix is a
    * 4× smaller index and a 4× cheaper dot product). Per query:
    * |top-k(full) ∩ top-k(prefix)| / k. Both rankings are EXACT
    * (bruteForceTopK, ties broken by neighbor id), so unlike the
    * LSH/IVF/PQ recall gates this one is deterministic end to end and
    * fully hash-oracled — the audit measures what truncation loses, not
    * what an index approximates. Zero-overlap queries keep their row
    * (left join onto the id frame). At scale the audit runs on a sample
    * of queries; the TRUNCATED search itself is the production side.
    */
  def truncationRecall(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int): DataFrame = {
    require(k >= 1 && dims >= 1, s"need k >= 1, dims >= 1; got $k, $dims")
    val full = bruteForceTopK(df, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = bruteForceTopK(
      df.select(col(idCol), slice(col(vecCol), 1, dims).as(vecCol)),
      idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val common = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    df.select(col(idCol).cast("long").as("query_id"))
      .join(common, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("query_id"), col("n_common"),
        round(col("n_common") / lit(k.toDouble) + lit(1e-9), 6)
          .as("recall_at_k"))
  }

  /** Per-item RBO weight table for [[rankBiasedOverlap]]: an item whose
    * worse rank across the two lists is m contributes to every depth
    * d ≥ m, so its total weight is Σ_{d=m..k} (1−p)·p^(d−1)/d,
    * NORMALIZED by the depth-k mass (1−p^k) so two identical rankings
    * score exactly 1 (the truncated-RBO convention without the
    * extrapolation term). Precomputed ONCE at plan time (k doubles) and
    * shared verbatim with the SQL oracle, so both engines sum identical
    * constants.
    */
  def rboWeights(k: Int, p: Double): Seq[Double] = {
    val norm = 1 - math.pow(p, k)
    (1 to k).map { m =>
      (m to k).map(d => (1 - p) * math.pow(p, d - 1) / d).sum / norm
    }
  }

  /** Rank-biased overlap at depth k (Webber, Moffat & Zobel, TOIS'10) —
    * the top-weighted similarity of two RANKINGS: RBO@k =
    * Σ_{d=1..k} (1−p)·p^(d−1)·|A₁..d ∩ B₁..d|/d. Where ann12's recall
    * asks "how many of the same neighbors", RBO asks "in how similar an
    * ORDER", geometrically discounting depth (p = persistence; 0.9 puts
    * ~86% of the weight in the top 5) — the standard metric for
    * comparing a cheap ranker against the reference ranking it
    * approximates.
    *
    * Plan: the prefix-overlap sum telescopes per ITEM — an item whose
    * worse rank is m = max(rank_A, rank_B) appears in every prefix
    * d ≥ m, so RBO = Σ_items weight(m) with weight the k-entry literal
    * table from [[rboWeights]]. One equi-join of the two run frames +
    * one groupBy(query): no depth explode, no window. Zero-overlap
    * queries keep their row (left join onto the query frame).
    * Deterministic given deterministic runs → fully hash-oracled.
    */
  def rankBiasedOverlap(runA: DataFrame, runB: DataFrame, k: Int,
      p: Double): DataFrame = {
    require(k >= 1 && p > 0 && p < 1, s"need k >= 1, 0 < p < 1; got $k, $p")
    val ws = rboWeights(k, p)
    val a = runA.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__ra"))
    val b = runB.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__rb"))
    val weight = (1 to k).foldLeft(lit(0.0)) { case (acc, m) =>
      when(greatest(col("__ra"), col("__rb")) === m, lit(ws(m - 1)))
        .otherwise(acc)
    }
    val perQuery = a.join(b, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), weight.as("__w"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("__rbo"))
    runA.select(col("query_id")).distinct()
      .join(perQuery, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("query_id"), col("n_common"),
        round(coalesce(col("__rbo"), lit(0.0)) + lit(1e-9), 6).as("rbo"))
  }

  /** Int8 scalar quantization of an embedding column — the memory-scale
    * path a 100 TB ANN index actually ships: per-DIMENSION affine codes
    * (code = round 0..255 of the dimension's min..max range) shrink a
    * float32 vector 4× so an IVF cell's vectors fit in cache/RAM, at the
    * cost of a measurable recall loss (ann4 measures exactly that).
    * The per-dimension min/max is ONE bounded aggregate (|dims| rows,
    * broadcast back); codes are pure column algebra (floor(x·255+0.5) —
    * not round(), whose half-up-vs-banker's semantics differ across
    * engines); the dequantized vector is rebuilt ordered-by-dimension so
    * downstream dot products are position-correct. Returns
    * (id, vec, qvec): the unit-normalized original and its dequantized
    * int8 approximation.
    */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // feeds the dim explode AND the final join — materialize once
    // (GC-released checkpoint, not a pinned cache entry)
    val unit = unitVectors(df, idCol, vecCol).localCheckpoint(true)
    val dims = unit.select(col("id"),
      posexplode(col("vec")).as(Seq("dim", "x")))
    val stats = dims.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val qv = dims.join(broadcast(stats), "dim")
      .withColumn("q", when(col("mx") > col("mn"),
        floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255 + 0.5))
        .otherwise(lit(0L)))
      .withColumn("xq",
        col("mn") + col("q") * (col("mx") - col("mn")) / 255)
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("xq")))),
        e => e.getField("xq")).as("qvec"))
    unit.join(qv, "id")
  }

  /** Top-k neighbors from `corpus` for only the vectors whose ids appear
    * in `queryIds` — same results as filtering `bruteForceTopK` output,
    * but the crossJoin shrinks from N×N to Q×N. Use when the downstream
    * join only consumes a subset of query entities.
    */
  def bruteForceTopKFor(df: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
    val l = base.join(queryIds.select(col(idCol).cast("long").as("id")),
        Seq("id"), "left_semi")
      .select(col("id").as("query_id"), col("vec").as("vec_a"))
    val r = base.select(col("id").as("neighbor_id"), col("vec").as("vec_b"))
    val pairs = l.crossJoin(r)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** k-NN majority-vote classification: each query vector takes the
    * modal label of its k nearest corpus vectors by cosine (ties on
    * votes broken by smallest label, ties on cosine by neighbor id —
    * fully deterministic). The neighbor search is the Q×N brute-force
    * pair loop (exact, the oracle-checkable baseline); at corpus scale
    * the same vote aggregate composes over [[lshTopKAuto]]'s candidates
    * instead — the classifier is agnostic to where its neighbor rows
    * come from. Returns (query_id, predicted_label, n_votes).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).cast("long").as("label"))
    val c = unitVectors(corpus, idCol, vecCol, fanOut = true)
      .select(col("id").as("neighbor_id"), col("vec").as("vec_b"))
    val q = unitVectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("vec").as("vec_a"))
    val pairs = q.crossJoin(c)
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val topK = pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .join(labels, "neighbor_id")
    val votes = topK.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("__r", row_number().over(vw))
      .where(col("__r") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
        col("n_votes"))
  }

  /** Achlioptas sign random projection to `dPrime` dimensions:
    * p_j = Σ_i v_i · s(i, j) / sqrt(dPrime) with s(i, j) ∈ {±1} drawn
    * from the first md5 hex digit of "i:j" (1-based i, j) — the
    * Johnson-Lindenstrauss dimensionality reduction every embedding
    * pipeline uses to shrink vectors before indexing, derandomized the
    * repo's way (md5 keys) so any engine reproduces the exact same
    * projection. The sign matrix is a PLAN-TIME constant (bucketKey's
    * literal-array idiom): dPrime fused `fastDot`s per row, a single
    * narrow map stage with NO explode and NO shuffle — at 100 TB the
    * projection runs at scan speed. The first cut (d·dPrime-row expand +
    * (id, j) groupBy) shuffled ~10M intermediate rows at sf0.1 and
    * measured 3.3 s; this form retires that entire exchange. Returns
    * long form (id, j, p) via one bounded posexplode, so pair dots
    * downstream stay equi-joins on j.
    */
  def signProject(df: DataFrame, idCol: String, vecCol: String,
      dPrime: Int, dim: Int = -1): DataFrame = {
    require(dPrime >= 1, s"projection dim must be >= 1, got $dPrime")
    val unit = unitVectors(df, idCol, vecCol)
    val d = resolveDim(unit, dim)
    val scale = math.sqrt(dPrime.toDouble)
    val pvec = array((1 to dPrime).map { j =>
      val signs = array((1 to d).map(i => lit(signComponent(i, j))): _*)
      fastDot(col("vec"), signs) / scale
    }: _*)
    unit.select(col("id"), posexplode(pvec).as(Seq("__j0", "p")))
      .select(col("id"), (col("__j0") + 1).as("j"), col("p"))
  }

  /** s(i, j) ∈ {±1}: +1 iff the first md5 hex digit of "i:j" is 0-7 —
    * i.e. the top bit of the first digest byte is clear. Must stay
    * bit-compatible with the oracle's
    * `substr(md5(i || ':' || j), 1, 1) < '8'`.
    */
  private def signComponent(i: Int, j: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if ((h(0) & 0x80) == 0) 1.0 else -1.0
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): based
    * on the same md5-derived integer hash the dedup operators use, so
    * every run (and every engine re-implementation) buckets identically.
    */
  private def planeComponent(table: Int, plane: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$table:$plane:$d".getBytes("UTF-8"))
    val bits = java.nio.ByteBuffer.wrap(h).getLong(0)
    bits.toDouble / Long.MaxValue.toDouble
  }

  /** LSH bucket key for one table: `numPlanes` hyperplane sign bits. */
  private def bucketKey(table: Int, numPlanes: Int, dim: Int): Column =
    (0 until numPlanes).map { pIdx =>
      val plane = array((0 until dim).map(d =>
        lit(planeComponent(table, pIdx, d))): _*)
      when(fastDot(col("vec"), plane) >= 0, lit(1L << pIdx)).otherwise(lit(0L))
    }.reduce((x, y) => x + y)

  /** Vector length for plane construction: the caller-supplied `dim` if
    * positive, else probed from one row of the (already cached) frame.
    * The probe is an extra eager job at plan-build time — catalog queries
    * pass the fixture's known dim so LSH plans build with zero pre-jobs.
    */
  private def resolveDim(base: DataFrame, dim: Int): Int =
    if (dim > 0) dim else base.select(size(col("vec"))).head().getInt(0)

  /** Candidate id pairs from `numTables` independent bucketings,
    * deduplicated across tables BEFORE any dot product, so each
    * surviving pair pays for exactly one cosine. `ordered = true` emits
    * each unordered pair once (left id < right id — the threshold-pairs
    * shape); `false` emits both directions (the top-k shape).
    */
  private def lshCandidates(base: DataFrame, dim: Int, numPlanes: Int,
      numTables: Int, leftId: String, rightId: String,
      ordered: Boolean): DataFrame =
    (0 until numTables).map { t =>
      val bucketed = base.withColumn("bucket", bucketKey(t, numPlanes, dim))
      val l = bucketed.select(col("id").as(leftId), col("bucket"))
      val r = bucketed.select(col("id").as(rightId), col("bucket"))
      l.join(r, Seq("bucket"))
        .where(if (ordered) col(leftId) < col(rightId)
               else col(leftId) =!= col(rightId))
        .select(col(leftId), col(rightId))
    }.reduce(_ unionAll _).distinct()

  /** Occupancy-constant plane count: per-table candidate work is
    * sum over buckets of |bucket|² ≈ N²/2^planes, so holding expected
    * bucket occupancy (N/2^planes) constant as the corpus grows —
    * planes ∝ log2(N) — keeps the candidate fraction, and with it the
    * wall-per-vector, flat. This is THE scale knob for the hyperplane
    * family: a round-8 scale probe measured a 10x corpus at fixed
    * planes=4 running 34x the base wall (occupancy 10x → per-bucket
    * pairs ~100x), vs 6.3x after re-sizing planes 4 → 7 by this rule.
    * (Each added plane lowers per-table collision recall; production
    * raises `numTables` alongside — see `tablesForRecall`.)
    */
  def planesForCorpus(n: Long, targetOccupancy: Int): Int =
    math.max(1, math.ceil(
      math.log(n.toDouble / math.max(targetOccupancy, 1)) / math.log(2))
      .toInt)

  /** Self-sizing LSH top-k: the production entry point for a corpus
    * whose size varies — planes come from the occupancy-constant rule
    * ([[planesForCorpus]]) and tables from the Charikar recall bound
    * ([[tablesForRecall]]) at the stated similarity operating point, so
    * the index keeps BOTH its per-vector cost and its recall target as
    * the corpus grows instead of silently degrading in one or the
    * other (a fixed (planes, tables) config at 10x the corpus measured
    * 34x the wall; fixed planes with more data also means bigger
    * buckets, not better recall). Costs one `count()` at index-build
    * time — the same cardinality any index build knows.
    *
    * @param simTarget the cosine at which `targetRecall` must hold;
    *   pairs more similar than this collide strictly more often
    * @param targetOccupancy expected vectors per bucket per table —
    *   the per-probe candidate budget knob
    */
  def lshTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      dim: Int = 0, targetOccupancy: Int = 128, simTarget: Double = 0.8,
      targetRecall: Double = 0.9): DataFrame = {
    val n = df.count()
    val planes = planesForCorpus(n, targetOccupancy)
    val tables = tablesForRecall(simTarget, planes, targetRecall)
    lshTopK(df, idCol, vecCol, k, planes, tables, dim)
  }

  /** Random-hyperplane LSH bucketing: sign bits of `numPlanes` fixed
    * pseudo-random hyperplane projections form the bucket key. Vectors
    * only compare within a bucket → pair space shrinks from N² to
    * sum over buckets of |bucket|². Deterministic planes (hash-seeded per
    * (plane, dim)) keep runs reproducible. Recall < 1.0 by construction;
    * `numTables` independent bucketings raise it (union of candidates).
    * Size `numPlanes` by corpus via [[planesForCorpus]] — or use
    * [[lshTopKAuto]], which applies both sizing rules.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      numPlanes: Int = 4, numTables: Int = 8, dim: Int = 0): DataFrame = {
    // Eager localCheckpoint: numTables bucketings + 2 verify joins all
    // read one SMALL materialization (N unit vectors), and — measured at
    // sf0.1 — recomputing base per bucketing table multiplies tiny
    // shuffle stages, not useful work. Blocks are GC-released when the
    // result is dropped (cache() would pin a CacheManager entry).
    val base = unitVectors(df, idCol, vecCol).localCheckpoint(true)
    val d = resolveDim(base, dim)
    val candidateIds = lshCandidates(base, d, numPlanes, numTables,
      "query_id", "neighbor_id", ordered = false)

    val scored = candidateIds
      .join(base.select(col("id").as("query_id"), col("vec").as("vec_a")),
        Seq("query_id"))
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("vec_b")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Near-duplicate pairs above a cosine threshold, LSH-bucketed: the
    * scale path for embedding-space dedup. Candidates come from
    * hyperplane buckets (each unordered pair once, id_a < id_b); exact
    * cosine is computed only on candidates, then thresholded — the pair
    * space is sum-of-|bucket|² instead of N²/2.
    *
    * Tuning is threshold-driven and the caller MUST size it for their
    * corpus: a pair at cosine t shares one hyperplane bit with
    * p = 1 - acos(t)/π, a `numPlanes`-bit bucket with p^numPlanes, and
    * is missed by all `numTables` tables with (1-p^planes)^tables.
    * The defaults (2 planes / 16 tables) are recall-first for the
    * catalog's deliberately-low 0.45 oracle threshold (miss ≈ 1e-4) —
    * but 2 planes = 4 buckets, so the candidate space stays O(N²/4):
    * fine at 10^4-10^5 vectors, NOT a 10^8 configuration. Production
    * near-dup thresholds (≥ 0.85, p_bit ≈ 0.86) support 8-12 planes,
    * where buckets are 2^8-2^12-way selective and the same miss bound
    * needs only ~16 tables — that is the shape to deploy at corpus
    * scale (or MinHash banding via [[Dedup.minHashLshPairs]] for text).
    */
  def lshThresholdPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 2, numTables: Int = 16,
      dim: Int = 0): DataFrame = {
    // numTables bucketings + 2 verify joins over one small frame — same
    // materialization rationale as lshTopK above
    val base = unitVectors(df, idCol, vecCol).localCheckpoint(true)
    val d = resolveDim(base, dim)
    val candidateIds = lshCandidates(base, d, numPlanes, numTables,
      "id_a", "id_b", ordered = true)
    candidateIds
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Probability that one hyperplane bit agrees for a pair at cosine `t`
    * (Charikar's SimHash bound): p = 1 − acos(t)/π.
    */
  def bitAgreeProb(t: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, t))) / math.Pi

  /** Tables needed so a pair at EXACTLY the threshold cosine is found
    * with probability ≥ `targetRecall` given `numPlanes`-bit buckets:
    * miss = (1 − p^planes)^tables ≤ 1 − recall. Pairs above the
    * threshold collide more often, so this is the worst-case bound.
    */
  def tablesForRecall(threshold: Double, numPlanes: Int,
      targetRecall: Double): Int = {
    val pBucket = math.pow(bitAgreeProb(threshold), numPlanes)
    math.max(1, math.ceil(
      math.log1p(-targetRecall) / math.log1p(-pBucket)).toInt)
  }

  /** The production-shaped near-dup entry point: sizes the table count
    * from the threshold and target recall via [[tablesForRecall]], so the
    * caller picks only the selectivity knob (`numPlanes` — bucket space
    * is 2^planes per table). At a real near-dup threshold (≥ 0.85,
    * p_bit ≈ 0.82) 8 planes give 256-way-selective buckets and ~13
    * tables reach 95% recall — the configuration to deploy at corpus
    * scale, measured in OperatorsSpec against exact pairs.
    */
  def lshThresholdPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 8, targetRecall: Double = 0.95,
      dim: Int = 0): DataFrame =
    lshThresholdPairs(df, idCol, vecCol, threshold, numPlanes,
      tablesForRecall(threshold, numPlanes, targetRecall), dim)

  /** Exact near-duplicate pairs above a cosine threshold (brute force,
    * each unordered pair once) — the O(N²) ground truth the LSH form is
    * measured against.
    */
  def exactThresholdPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
    val l = base.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val r = base.select(col("id").as("id_b"), col("vec").as("vec_b"))
    l.crossJoin(r).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** IVF top-k over a supplied coarse quantizer: assign every vector to
    * its nearest centroid cell (broadcast argmax — centroids are the
    * small side by construction), search each query's `nprobe` nearest
    * cells against neighbors' home cells, exact cosine only within
    * probed cells. `centroids` is a (cell: Long, cent_vec: unit
    * ARRAY<DOUBLE>) frame — deterministic hash-picked rows for the
    * oracle-checked catalog forms (ann2/ann2b build it inline), or
    * learned [[graft.ml.Clustering.kmeansCentroids]] for the layout a
    * deployed index uses (ann2c): learned cells follow the data's
    * density, so cell sizes stay balanced and recall at fixed nprobe is
    * higher than any data-blind assignment. At 100 TB the cell id is
    * the partition key — probes shuffle once to their cells instead of
    * crossing the corpus.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    // r16 (VERDICT r15 #3): ONE normalization subtree — the unit frame
    // is materialized once and feeds the cell ranking and both pair-join
    // sides, instead of four independent cast-normalize subtrees of the
    // raw input. Values are bit-identical (same expression, evaluated
    // once); only the plan shape changes.
    val base = unitVectors(df, idCol, vecCol).localCheckpoint(true)
    val rankedCells = ivfCellRanksFromUnit(base, centroids, nprobe)
    val home = rankedCells.where(col("cell_rank") === 1)
      .select(col("id"), col("cell"))
    val probes = rankedCells.select(col("id"), col("cell"))
    val l = base.join(probes, Seq("id"))
      .select(col("id").as("query_id"), col("vec").as("vec_a"), col("cell"))
    val r = base.join(home, Seq("id"))
      .select(col("id").as("neighbor_id"), col("vec").as("vec_b"),
        col("cell"))
    val pairs = l.join(r, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("knn_rank", row_number().over(w))
      .where(col("knn_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("knn_rank"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** IVF coarse-quantizer cell assignment — the ONE definition of which
    * cells a vector lives in and which cells a query probes, shared by
    * [[ivfTopK]] and the measured recall-cost curve (README) so a
    * reported candidate fraction can never diverge from what `ivfTopK`
    * actually scans (same dot product, same `cell desc` tie-break, same
    * normalization edge cases). Returns (id, cell, cell_rank) for every
    * vector's `max(1, maxRank)` nearest centroid cells: rank 1 is the
    * home cell an index stores the vector under; ranks <= nprobe are the
    * cells a query scans.
    */
  def ivfCellRanks(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, maxRank: Int): DataFrame =
    ivfCellRanksFromUnit(unitVectors(df, idCol, vecCol), centroids, maxRank)

  /** [[ivfCellRanks]] over an already-normalized (id, vec) frame — the
    * r16 shared-subtree form: callers that hold a materialized unit
    * frame ([[ivfTopK]], [[blockedCandidateRows]]) rank cells from it
    * directly instead of re-normalizing the raw input. Per-row values
    * are identical to the public form (same dot product, tie-break and
    * normalization expression); only the number of normalization
    * subtrees in the plan changes.
    */
  private def ivfCellRanksFromUnit(base: DataFrame, centroids: DataFrame,
      maxRank: Int): DataFrame = {
    val simTo = base.join(broadcast(centroids))
      .select(col("id"), col("cell"),
        fastDot(col("vec"), col("cent_vec")).as("sim"))
    val wCell = Window.partitionBy(col("id"))
      .orderBy(col("sim").desc, col("cell").desc)
    simTo.withColumn("cell_rank", row_number().over(wCell))
      .where(col("cell_rank") <= math.max(1, maxRank))
      .select(col("id"), col("cell"), col("cell_rank"))
  }

  /** The candidate pair set an LSH configuration would score (before the
    * exact-cosine filter) — exposed so tests and capacity planning can
    * measure the candidate-space reduction vs N(N−1)/2 directly.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, numTables: Int, dim: Int = 0): DataFrame = {
    val base = unitVectors(df, idCol, vecCol).localCheckpoint(true)
    val d = resolveDim(base, dim)
    lshCandidates(base, d, numPlanes, numTables, "id_a", "id_b",
      ordered = true)
  }

  /** SemDeDup-style cluster-blocked near-duplicate pairs: vectors are
    * blocked by their learned coarse-quantizer cell and exact cosine
    * runs only WITHIN blocks (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication",
    * arXiv:2303.09540 — k-means the embedding space, then prune
    * above-threshold pairs inside each cluster). The pair space is
    * Σ|cell|·|probe cell| instead of N(N−1)/2, and the cell id is the
    * one shuffle key (the [[ivfTopK]] layout), so no all-pairs stage
    * exists anywhere — the property that makes semantic dedup runnable
    * on a 10⁹-vector corpus where [[exactThresholdPairs]] is the
    * oracle-only baseline.
    *
    * `nprobe` > 1 compares each vector's HOME cell against its nprobe
    * nearest cells (both directions of a boundary-straddling pair get a
    * chance to look across the border), trading candidate volume for
    * recall exactly like IVF search; cell assignment is
    * [[ivfCellRanks]] — the same dot product, tie-break, and
    * normalization as every other IVF consumer, so a measured recall
    * here transfers to the deployed index. Missed pairs are ones whose
    * endpoints share none of each other's probed cells; the t57 catalog
    * entry gates measured recall against the exact pair set.
    */
  def clusterBlockedPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: DataFrame,
      nprobe: Int = 1): DataFrame =
    blockedCandidateRows(df, idCol, vecCol, centroids, nprobe)
      // normalize to (min, max) BEFORE dedup: a boundary pair can be
      // found in only one probe direction, and an id_a < id_b filter on
      // the raw orientation would drop the (b probes a's home) find
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        fastDot(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
      // the same pair can surface via several shared cells / directions
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(first(col("cosine")) + lit(1e-9), 6).as("cosine"))

  /** The candidate pair set [[clusterBlockedPairs]] scores BEFORE the
    * cosine filter — one distinct row per unordered pair sharing a
    * (home, probe) cell. Exposed like [[graft.operators.Dedup.bandCollisionPairs]]
    * so capacity planning and tests can measure the block index's
    * admission rate (candidates / N(N−1)/2) separately from the
    * verify filter, with the exact joins `clusterBlockedPairs` runs.
    */
  def clusterBlockedCandidatePairs(df: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, nprobe: Int = 1): DataFrame =
    blockedCandidateRows(df, idCol, vecCol, centroids, nprobe)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()

  /** Shared cell-blocked join: each vector's nprobe probe cells against
    * every home-cell occupant, pairs carried with both unit vectors.
    * ONE definition feeds both the scored pairs and the candidate count
    * so a reported candidate fraction can never diverge from what the
    * pair generator actually scanned.
    */
  private def blockedCandidateRows(df: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, nprobe: Int): DataFrame = {
    val base = unitVectors(df, idCol, vecCol, fanOut = true)
      .localCheckpoint(true)
    // r16: rank cells from the materialized unit frame (one
    // normalization subtree; identical values — see ivfCellRanksFromUnit)
    val ranked = ivfCellRanksFromUnit(base, centroids, nprobe)
    val home = ranked.where(col("cell_rank") === 1)
      .select(col("id"), col("cell"))
    val probes = ranked.select(col("id"), col("cell"))
    val l = base.join(probes, Seq("id"))
      .select(col("id").as("id_a"), col("vec").as("vec_a"), col("cell"))
    val r = base.join(home, Seq("id"))
      .select(col("id").as("id_b"), col("vec").as("vec_b"), col("cell"))
    l.join(r, Seq("cell"))
      .where(col("id_a") =!= col("id_b"))
  }

  /** Hard-negative mining for contrastive training: for each ANCHOR
    * vector, the k most cosine-similar corpus vectors carrying a
    * DIFFERENT label — the near-misses a retrieval/embedding model
    * learns the most from. `anchors` is a one-column frame of ids
    * (mining runs over a designated anchor subset, not all N, so the
    * pair space is |anchors|·N, not N²); the anchor side is broadcast
    * and the label constraint is applied inside the pair loop, BEFORE
    * the top-k window, so negatives never crowd out slots.
    *
    * At corpus scale the same different-label filter + vote window
    * composes over [[lshTopKAuto]]'s bucketed candidates instead of the
    * exact pair loop — the mining logic is agnostic to where its
    * candidate rows come from (same split as [[knnClassify]]).
    */
  def hardNegatives(df: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("lbl"),
        transform(col(vecCol), x => x.cast("double")).as("raw"))
    val unit = Fan.outIfNarrow(base)
      .select(col("id"), col("lbl"),
        transform(col("raw"), x => x / l2Norm(col("raw"))).as("vec"))
      .localCheckpoint(true)
    val a = unit
      .join(anchors.select(col(idCol).cast("long").as("id")), Seq("id"),
        "left_semi")
      .select(col("id").as("anchor_id"), col("lbl").as("anchor_label"),
        col("vec").as("vec_a"))
    val r = unit.select(col("id").as("neg_id"), col("lbl").as("neg_label"),
      col("vec").as("vec_b"))
    val pairs = broadcast(a).crossJoin(r)
      .where(col("anchor_label") =!= col("neg_label"))
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), fastDot(col("vec_a"), col("vec_b")).as("cosine"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    pairs.withColumn("hn_rank", row_number().over(w))
      .where(col("hn_rank") <= k)
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("hn_rank"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al., TPAMI'11): split each unit
  // vector into m subvectors, learn a ksub-centroid codebook PER
  // SUBSPACE, store each vector as m small codes (dim·4 bytes → m bytes
  // at ksub <= 256). Queries score the compressed corpus by ADC —
  // per-query lookup tables of subspace partial dot products, summed by
  // code — then an exact rerank on the shortlist restores top-k
  // fidelity. This is the memory tier BELOW int8 scalar quantization
  // (quantizeInt8: 4× smaller; PQ here: 32×), the form in which a
  // 100 TB embedding corpus actually fits an ANN serving tier.
  // ------------------------------------------------------------------

  /** Per-subspace PQ codebooks over the UNIT vectors: (sub, code,
    * cent — array<double> of length dim/m).
    *
    * ALL m subspaces train in ONE Lloyd loop expressed as DataFrame ops
    * — never m sequential single-subspace fits (measured: 16 spark.ml
    * fits cost ~50 s of fixed per-fit job overhead at sf0.1; this loop
    * trains the same codebooks in ~5 iterations × 3 bounded shuffles
    * with `sub` as just another grouping key, so a 256-subspace
    * deployment pays the same stage count as m=2). Initialization is a
    * DETERMINISTIC hash-ordered sample (xxhash64(id, seed) smallest per
    * subspace), so unlike spark.ml's sampled init the entire PQ
    * pipeline is reproducible run-to-run: same corpus + seed → same
    * codebooks → same codes → same shortlists. Empty clusters drop out
    * of the centroid frame (their codes simply never win an argmin).
    */
  /** The (id, sub, sv) subspace-exploded unit-vector frame every PQ
    * stage consumes — factored out (r15) so [[pqTopK]] materializes it
    * ONCE for both codebook training and encoding instead of each
    * stage re-normalizing and re-slicing the corpus.
    */
  private def pqSubs(df: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    unitVectors(df, idCol, vecCol)
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("vec"))
      .select(col("id"), col("sub"),
        slice(col("vec"), col("sub") * subDim + 1, lit(subDim)).as("sv"))
      .localCheckpoint(true)
  }

  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int, seed: Long, iters: Int = 3): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    pqCodebooksFromSubs(pqSubs(df, idCol, vecCol, m, dim),
      ksub, dim / m, seed, iters)
  }

  private def pqCodebooksFromSubs(subs: DataFrame, ksub: Int,
      subDim: Int, seed: Long, iters: Int): DataFrame = {
    val wInit = Window.partitionBy(col("sub"))
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
    var cents = subs
      .withColumn("__rn", row_number().over(wInit))
      .where(col("__rn") <= ksub)
      .select(col("sub"), (col("__rn") - 1).cast("int").as("code"),
        col("sv").as("cent"))
    for (_ <- 1 to iters) {
      // r16 (guide §2.4 — remove shuffles outright): assignment is
      // MAP-ONLY. The per-sub codebook collapses to ONE row per sub
      // (ksub (code, cent) structs), so the argmin runs as an array
      // expression over the equi-joined broadcast row instead of a
      // ksub-way join fan-out + re-group by (id, sub, sv). Per
      // iteration that drops one full shuffle of the N·m·ksub candidate
      // rows; measured 3.83 → 2.17 s on the sf0.1 3-iteration chain
      // with BIT-IDENTICAL centroids (array_min on struct(d2, code) is
      // the same lexicographic (min d2, tie → min code) rule as
      // min(struct), and the update aggregate is unchanged).
      val assign = pqAssignByArgmin(subs, cents)
      // centroid update fused into ONE aggregate: per-dimension avg
      // columns reassembled into the array (subDim is a small constant,
      // so the wide agg beats a posexplode + second shuffle)
      val next = assign
        .groupBy(col("sub"), col("code"))
        .agg(avg(element_at(col("sv"), 1)).as("__c0"),
          (2 to subDim).map(i =>
            avg(element_at(col("sv"), i)).as(s"__c${i - 1}")): _*)
        .select(col("sub"), col("code"),
          array((0 until subDim).map(i => col(s"__c$i")): _*).as("cent"))
      // no per-iteration materialization: the centroid frame is m·ksub
      // rows, so the 5-iteration lazy plan is cheap to carry and the
      // caller's one localCheckpoint on the final codebook executes the
      // whole chain exactly once (eager per-iter checkpoints measured
      // as pure fixed overhead here)
      cents = next
    }
    cents
  }

  /** Shuffle-free PQ centroid assignment: the (sub, code, cent) codebook
    * regrouped to one (sub, cbs: array<struct<code, cent>>) row per sub,
    * equi-joined (broadcast) on `sub`, argmin computed per input row as
    * `array_min` over struct(d2, code) — lexicographic, so min distance
    * with the code as tie-break, exactly `min(struct(__d2, code))` of
    * the old grouped form without materializing the ksub-way candidate
    * fan-out or shuffling it back together. Returns (id, sub, sv, code).
    */
  private def pqAssignByArgmin(subs: DataFrame,
      cents: DataFrame): DataFrame = {
    val cb = cents.groupBy(col("sub"))
      .agg(collect_list(struct(col("code"), col("cent"))).as("cbs"))
    subs.join(broadcast(cb), Seq("sub"))
      .select(col("id"), col("sub"), col("sv"),
        array_min(transform(col("cbs"), c =>
          struct(aggregate(zip_with(col("sv"), c.getField("cent"),
            (a, b) => (a - b) * (a - b)), lit(0.0),
            (acc, v) => acc + v).as("d2"),
            c.getField("code").as("code"))))
          .getField("code").as("code"))
  }

  /** PQ codes in long form: (id, sub, code) — the compressed corpus.
    * One bounded broadcast loop (N·m·ksub rows pre-aggregate, the same
    * centroid-assignment shape as IVF/kmeans); argmin is an exact
    * min(struct(distance, code)) with the code as tie-break, so the
    * encoding is deterministic GIVEN the codebooks.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    // r15: equi-join on `sub` over the exploded (id, sub, sv) frame
    // instead of a full crossJoin against all m·ksub codebook rows —
    // identical candidate set per (id, sub) (the old groupBy keyed on
    // the codebook row's sub, which is exactly the equi-join), but the
    // subspace slice happens once per (id, sub) instead of once per
    // (id, codebook row).
    pqEncodeFromSubs(pqSubs(df, idCol, vecCol, m, dim), codebooks, idCol)
  }

  private def pqEncodeFromSubs(subs: DataFrame, codebooks: DataFrame,
      idCol: String): DataFrame =
    // r16: the same shuffle-free argmin as codebook training — encoding
    // was the last groupBy standing between the subspace frame and the
    // ADC scan (guide §2.4). Codes are bit-identical (same argmin rule).
    pqAssignByArgmin(subs, codebooks)
      .select(col("id").as(idCol), col("sub"), col("code"))

  /** ADC top-k with exact rerank: queries (rows matching `queryPred`)
    * score the PQ-compressed corpus via per-query subspace lookup
    * tables (|Q|·m·ksub partial dot products, broadcast), take an
    * ADC `shortlist`, then rerank the shortlist with exact cosine
    * against the original vectors — the standard PQ serving shape.
    * Self-matches excluded. Returns (query_id, neighbor_id, rank,
    * cosine). Scale: the ADC scan is one equi-join of the (N·m)-row
    * code table against a broadcast LUT + one sum per (query,
    * candidate); nothing touches raw vectors until the shortlist, which
    * is |Q|·shortlist rows.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int, ksub: Int, shortlist: Int,
      dim: Int, seed: Long): DataFrame = {
    val subDim = dim / m
    // r15: ONE subspace-exploded frame feeds training AND encoding —
    // previously each stage rebuilt its own normalized/sliced corpus.
    val subs = pqSubs(df, idCol, vecCol, m, dim)
    val cb = pqCodebooksFromSubs(subs, ksub, subDim, seed, iters = 3)
      .localCheckpoint(true)
    val codes = pqEncodeFromSubs(subs, cb, idCol)
    val base = unitVectors(df, idCol, vecCol)
    val queries = df.where(queryPred)
    val qvecs = unitVectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val lut = qvecs.crossJoin(broadcast(cb))
      .select(col("query_id"), col("sub"), col("code"),
        fastDot(slice(col("qvec"), col("sub") * subDim + 1, lit(subDim)),
          col("cent")).as("part"))
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .where(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("part")).as("__adc"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col(idCol))
    val short = adc.withColumn("__r", row_number().over(ws))
      .where(col("__r") <= shortlist)
      .select(col("query_id"), col(idCol).as("neighbor_id"))
    val rer = short
      .join(base.select(col("id").as("neighbor_id"), col("vec")),
        "neighbor_id")
      .join(qvecs, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("qvec"), col("vec")).as("cosine"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(wk))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Exact maximum-inner-product top-k (MIPS): the recommendation/
    * scoring retrieval problem where vector NORMS carry signal (item
    * popularity, document importance) so cosine search — which erases
    * them — returns the wrong ranking. Brute-force Q×N inner products:
    * the oracle-checkable ground truth; [[mipsTopKLsh]] is the
    * sublinear path. No normalization anywhere — `ip` is the raw dot
    * product; ties break by neighbor id.
    */
  def mipsTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val base = corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .localCheckpoint(true)
    val q = base.join(queryIds.select(col(idCol).cast("long").as("id")),
        Seq("id"), "left_semi")
      .select(col("id").as("query_id"), col("vec").as("vec_a"))
    val r = base.select(col("id").as("neighbor_id"), col("vec").as("vec_b"))
    val pairs = q.crossJoin(r)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("vec_a"), col("vec_b")).as("ip"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    pairs.withColumn("mips_rank", row_number().over(w))
      .where(col("mips_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("mips_rank"),
        round(col("ip") + lit(1e-9), 6).as("ip"))
  }

  /** Sublinear MIPS via the SIMPLE-LSH reduction (Neyshabur & Srebro,
    * ICML'15, arXiv:1410.5518): augment corpus vectors to the unit
    * sphere — x ↦ [x/M, √(1−‖x‖²/M²)] with M the max corpus norm — and
    * queries asymmetrically — q ↦ [q/‖q‖, 0] — so that
    * cos(q̂, x̂) ∝ ⟨q, x⟩: hyperplane-LSH bucketing in the augmented
    * space is a valid MIPS index. Candidates come from `numTables`
    * bucket equi-joins (the [[lshTopK]] machinery over d+1 dims,
    * asymmetric: query buckets probe corpus buckets); survivors are
    * scored by their TRUE inner product over the raw vectors, so the
    * transform only steers candidate generation — scores and tie-breaks
    * are identical to [[mipsTopK]]'s on whatever the index surfaces.
    * M is an in-plan 1-row scalar broadcast (an index-build statistic,
    * like lshTopKAuto's count). Zero-norm queries drop (MIPS undefined).
    * At 100 TB: same occupancy/recall sizing knobs as the cosine family
    * ([[planesForCorpus]] / [[tablesForRecall]]) — the reduction rides
    * the existing index shape.
    */
  def mipsTopKLsh(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int, numTables: Int,
      dim: Int): DataFrame = {
    val raw = corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("rawvec"))
      .withColumn("norm",
        sqrt(aggregate(col("rawvec"), lit(0.0), (a, x) => a + x * x)))
      .localCheckpoint(true)
    val mMax = raw.agg(max(col("norm")).as("__mmax"))
    val corpusAug = raw.crossJoin(broadcast(mMax)) // 1-row scalar
      .select(col("id"),
        concat(transform(col("rawvec"), x => x / col("__mmax")),
          array(sqrt(greatest(lit(0.0),
            lit(1.0) - (col("norm") / col("__mmax"))
              * (col("norm") / col("__mmax")))))).as("vec"))
    val qIds = queryIds.select(col(idCol).cast("long").as("id"))
    val queryAug = raw.join(qIds, Seq("id"), "left_semi")
      .where(col("norm") > 0)
      .select(col("id"),
        concat(transform(col("rawvec"), x => x / col("norm")),
          array(lit(0.0))).as("vec"))
    val d = dim + 1
    val cands = (0 until numTables).map { t =>
      val cb = corpusAug.withColumn("bucket", bucketKey(t, numPlanes, d))
        .select(col("id").as("neighbor_id"), col("bucket"))
      val qb = queryAug.withColumn("bucket", bucketKey(t, numPlanes, d))
        .select(col("id").as("query_id"), col("bucket"))
      qb.join(cb, Seq("bucket"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
    }.reduce(_ unionAll _).distinct()
    val scored = cands
      .join(raw.select(col("id").as("query_id"), col("rawvec").as("va")),
        Seq("query_id"))
      .join(raw.select(col("id").as("neighbor_id"),
        col("rawvec").as("vb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastDot(col("va"), col("vb")).as("ip"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    scored.withColumn("mips_rank", row_number().over(w))
      .where(col("mips_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("mips_rank"),
        round(col("ip") + lit(1e-9), 6).as("ip"))
  }

  /** Retrieval-quality metrics — Precision@k, MRR, and binary-relevance
    * nDCG@k — for ANY ranked run frame (`query_id`, `neighbor_id`,
    * `rank`): the evaluation harness every ANN/search operator in this
    * family ([[bruteForceTopKFor]], [[lshTopKAuto]], [[ivfTopK]],
    * ann9's PQ scan) plugs into unchanged. Relevance is label equality
    * against `labels` (query's own label; self never appears in a run).
    *
    * Per query: n_rel = corpus same-label count minus self (the ideal-
    * ranking denominator), P@k = hits/k, MRR = 1/first-relevant-rank
    * (0 if none), nDCG@k = Σ rel_i/log2(i+1) over the run divided by
    * the ideal Σ_{i≤min(n_rel,k)} 1/log2(i+1) — the ideal prefix
    * computed per row with a higher-order `aggregate`, no join.
    *
    * Plan: two broadcast-shaped label joins + one groupBy(query) —
    * metrics cost O(|run|) regardless of corpus size; the run frame
    * itself carries whatever cost its retriever paid. Deterministic
    * given a deterministic run (every retriever here breaks cosine ties
    * by neighbor id) → fully hash-oracled.
    */
  def retrievalMetrics(run: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    val lbl = labels.select(col(idCol).cast("long").as("__id"),
      col(labelCol).cast("long").as("__lbl")).localCheckpoint(true)
    val q = lbl.join(lbl.groupBy(col("__lbl")).agg(count(lit(1)).as("__lsz")),
        "__lbl")
      .select(col("__id").as("query_id"), col("__lbl").as("__qlbl"),
        (col("__lsz") - 1).as("n_rel"))
    val judged = run.where(col("rank") <= k)
      .join(lbl.select(col("__id").as("neighbor_id"),
        col("__lbl").as("__nlbl")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("__rel",
        (col("__nlbl") === col("__qlbl")).cast("double"))
    judged.groupBy(col("query_id"), col("n_rel"))
      .agg(sum(col("__rel")).as("__hits"),
        min(when(col("__rel") === 1.0, col("rank"))).as("__r1"),
        sum(col("__rel") / log2(col("rank") + 1)).as("__dcg"))
      // greatest(..., 1): at n_rel = 0, sequence(1, 0) is the DESCENDING
      // [1, 0] and the i = 0 term divides by log2(1) = 0 → Infinity.
      // The n_rel = 0 guard below masks it today, but the expression
      // itself must never produce Infinity (ADVICE r11).
      .withColumn("__idcg", expr(
        s"aggregate(sequence(1, greatest(int(least(n_rel, $k)), 1)), 0D, " +
          "(acc, i) -> acc + 1.0 / log2(i + 1))"))
      .select(col("query_id"), col("n_rel"),
        round(col("__hits") / k + lit(1e-9), 6).as("p_at_k"),
        round(coalesce(lit(1.0) / col("__r1"), lit(0.0)) + lit(1e-9), 6)
          .as("mrr"),
        round(when(col("n_rel") === 0, lit(0.0))
          .otherwise(col("__dcg") / col("__idcg")) + lit(1e-9), 6)
          .as("ndcg_at_k"))
  }
}
