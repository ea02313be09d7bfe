package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering (SURVEY §2.10 M6). The reference runs sklearn KMeans on an
  * in-memory matrix (prepare_visual_market_data.py:296-304); spark.ml
  * distributes both fit and transform. Centroids won't match sklearn's —
  * tests assert cluster *quality* (inertia, size balance), not identity
  * (SURVEY §7.4 risk 8).
  */
object Clustering {

  /** Fit KMeans on an ARRAY<FLOAT/DOUBLE> column and return (id, cluster)
    * assignments.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long): DataFrame = {
    // materialized once (r16): the fit's ~15 internal jobs and the
    // transform otherwise each re-execute the projection from the scan;
    // checkpoint preserves partition layout, so assignments are
    // bit-identical (see kmeansCentroids note).
    val feats = df.select(col(idCol),
      array_to_vector(transform(col(vecCol), x => x.cast("double")))
        .as("features"))
      .localCheckpoint(true)
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cluster")
    model.fit(feats).transform(feats)
      .select(col(idCol), col("cluster"))
  }

  /** Oracle-checkable reduction of `kmeansAssign` (VERDICT r7 #3): the
    * assignments and centroids themselves are init-dependent (sklearn vs
    * spark.ml never agree, which is why m6 had no oracle row), but the
    * VORONOI PROPERTY — every vector sits in the cell of its nearest
    * centroid — is engine-independent and reduces to a deterministic
    * boolean DuckDB can assert. Fits once, recomputes each vector's
    * argmin-euclidean centroid IN-PLAN (broadcast of the k×dim centroid
    * table, per-row distance fold, min_by — the same shape a deployed
    * quantizer assignment uses at any scale), and returns ONE row:
    * (n_vectors, k_clusters, assign_nearest_ok). `assign_nearest_ok`
    * goes false if spark.ml's assignment ever disagrees with the
    * from-scratch nearest-centroid computation, so the driver's hash
    * compare gates the clustering that every cycle/trait result
    * downstream rides on (reference
    * prepare_visual_market_data.py:296-304).
    *
    * Tie caveat: if a vector is EXACTLY equidistant from two centroids,
    * `min_by` and spark.ml each break the tie arbitrarily and the gate
    * could flip on which side wins. Measure-zero on real-valued
    * embeddings (requires two float distances bit-equal), so not
    * guarded; noted here for anyone pointing this at integral or
    * deliberately symmetric inputs.
    */
  def kmeansAssignAudit(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long): DataFrame = {
    val feats = df.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("features", array_to_vector(col("__v")))
      .localCheckpoint(true) // r16: see kmeansCentroids note
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(feats)
    val assigned = model.transform(feats)
      .select(col(idCol), col("__v"), col("cluster"))
    val cents = df.sparkSession.createDataFrame(
      model.clusterCenters.zipWithIndex.toSeq.map { case (c, i) =>
        (i, c.toArray.toSeq)
      }).toDF("cell", "cent")
    val dist2 = aggregate(
      zip_with(col("__v"), col("cent"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    assigned.crossJoin(broadcast(cents))
      .select(col(idCol), col("cluster"), col("cell"), dist2.as("__d2"))
      .groupBy(col(idCol), col("cluster"))
      .agg(min_by(col("cell"), col("__d2")).as("nearest_cell"))
      .agg(
        count(lit(1)).as("n_vectors"),
        countDistinct(col("cluster")).as("k_clusters"),
        bool_and(col("cluster") === col("nearest_cell"))
          .as("assign_nearest_ok"))
  }

  /** Occupancy-constant cell count for the SemDeDup / IVF block index —
    * the `Similarity.planesForCorpus` rule applied to a learned
    * quantizer: hold expected cell occupancy (N/k) at the catalog
    * operating point as the corpus grows, so k grows LINEARLY with N.
    * Why occupancy and not √N: [[graft.operators.Similarity.clusterBlockedPairs]]'s
    * pair space is Σ|cell|·|probed cells| ≈ N·occupancy·nprobe — with
    * occupancy held constant, per-vector candidate work stays flat and
    * TOTAL work stays linear in N, exactly the property that makes the
    * block index survive 100 TB (a fixed k at 10× the corpus means 10×
    * occupancy → 10× per-vector work → ~100× wall on the pair join; the
    * r10 scale probe measured this contrast; README "10× scale probes").
    * The √N rule balances probe-list length against cell-scan length
    * for top-k SEARCH; pair GENERATION has no probe-list term, so
    * occupancy is the only knob that matters.
    *
    * Quantizer fit cost: spark.ml KMeans is O(iters·k·N·dim) — at
    * k ∝ N a full-corpus fit would go quadratic, so at deployment scale
    * the fit runs on a bounded uniform SAMPLE (a few hundred vectors per
    * target cell, the standard IVF training regime); assignment stays
    * the one linear broadcast pass [[graft.operators.Similarity.ivfCellRanks]]
    * makes. Recall at a fixed nprobe is occupancy-driven (boundary pairs
    * fall outside shared cells at the same rate when cell geometry holds),
    * which is what lets a recall measured at 1× transfer to the re-sized
    * index — the r10 probe's gate checks exactly that transfer.
    */
  def cellsForCorpus(n: Long, targetOccupancy: Int): Int =
    math.max(1, math.ceil(
      n.toDouble / math.max(targetOccupancy, 1)).toInt)

  /** Fit spherical-style KMeans (inputs L2-normalized first, the right
    * space for cosine search) and return the learned centroids as a
    * (cell, cent_vec) frame — the coarse quantizer an IVF ANN index
    * partitions on. Centroids are re-normalized to unit length so cell
    * assignment reduces to an argmax of dot products. k × dim doubles
    * live on the driver between fit and frame construction — the same
    * small-model footprint any deployed quantizer has.
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, k: Int,
      seed: Long): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val unit = transform(v, x => x / sqrt(aggregate(v, lit(0.0),
      (acc, u) => acc + u * u)))
    // r16 (guide §1.2, VERDICT r15 #3): spark.ml's fit runs ~15 internal
    // jobs (k-means|| init passes + one per Lloyd iteration), EACH
    // re-executing this projection subtree from the source scan.
    // Materializing the features frame once cuts the k=8/k=45 sf0.1 fit
    // from 3.85/2.89 s to 0.88/0.66 s (measured). localCheckpoint
    // preserves partition layout and row order, so the k-means|| seeded
    // per-partition sampling — and therefore the centroids — are
    // BIT-IDENTICAL to the un-checkpointed fit.
    val feats = df.select(array_to_vector(unit).as("features"))
      .localCheckpoint(true)
    // r15 (guide §1.2/§1.1): spark.ml's default fit (k-means|| init +
    // maxIter 20) measured 3.4-4.0 s per call at sf0.1 with most of the
    // wall in the per-iteration job train. A coarse quantizer feeding
    // recall-gated blocking (t57) / IVF probing (ann2c) does not need
    // convergence-grade centroids — it needs balanced, density-following
    // cells; maxIter=5 over the same k-means|| init keeps the gates'
    // measured recall (re-verified at sf0.001/0.01/0.1, see
    // OPTIMIZATION_r15.md) at ~40% of the fit wall. Two from-scratch
    // DataFrame-algebra Lloyd rewrites (literal-expression centroids;
    // a pqCodebooks-style lazy broadcast chain) both measured SLOWER
    // than the tuned spark.ml fit (k·dim-sized Janino trees /
    // plan-growth re-optimization) and were discarded.
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cluster")
    val cents = model.fit(feats).clusterCenters.zipWithIndex.map {
      case (c, i) =>
        val a = c.toArray
        val n = math.sqrt(a.map(x => x * x).sum)
        (i.toLong, a.map(x => if (n > 0) x / n else x).toSeq)
    }
    df.sparkSession.createDataFrame(cents.toSeq)
      .toDF("cell", "cent_vec")
  }


  /** Grid-blocked DBSCAN (Ester et al., KDD'96) over a 2-D feature
    * space — density clustering with a noise class, the shape-agnostic
    * complement to [[kmeansAssign]] (k-means can't say "this point
    * belongs to nothing"; DBSCAN's noise label is exactly the outlier
    * verdict a curation pipeline wants).
    *
    * The ε-neighborhood join — DBSCAN's only superlinear step — is
    * GRID-BLOCKED: cells of side ε, each point probes its 3×3 cell
    * neighborhood (a 9× explode on one side, then a plain equi-join on
    * the cell key). Blocking is EXACT, not approximate: two points
    * within ε differ by < ε per axis, so their cell indices differ by
    * at most 1 — every true neighbor pair lands in the join, and the
    * pair space shrinks from N² to Σ|cell|·|3×3 block| (density-bounded:
    * a cell holds O(ε²·ρ) points). Then:
    *  - core points: |N_ε(p)| ≥ minPts (self included);
    *  - clusters: connected components over core–core neighbor edges
    *    ([[graft.operators.Dedup.connectedComponents]] min-label
    *    propagation — cluster id = min core id, deterministic);
    *  - border points: non-core with a core neighbor take the MIN core
    *    neighbor's cluster (the textbook assignment is ingest-order-
    *    dependent; min is the deterministic refinement);
    *  - noise: cluster = -1.
    *
    * All boundary decisions are double-precision comparisons on
    * identical IEEE arithmetic, so a SQL oracle reproduces every label
    * exactly. At 100 TB: one 9×-explode equi-join (partitioned on cell
    * keys — dense cells are the skew axis; ε sizes the grid), one
    * neighbor-count shuffle, CC over the (sparse) core graph.
    *
    * Returns (idCol, n_in_eps — neighbors incl. self, is_core, cluster).
    */
  def dbscanGrid(points: DataFrame, idCol: String, xCol: String,
      yCol: String, eps: Double, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 2, s"need eps > 0, minPts >= 2")
    val pts = points.select(col(idCol).cast("long").as("__id"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .withColumn("__cx", floor(col("__x") / eps).cast("long"))
      .withColumn("__cy", floor(col("__y") / eps).cast("long"))
      .localCheckpoint(true)
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = pts.select(col("__id").as("__ida"), col("__x").as("__xa"),
        col("__y").as("__ya"), col("__cx"), col("__cy"),
        explode(offsets).as("__o"))
      .select(col("__ida"), col("__xa"), col("__ya"),
        (col("__cx") + col("__o.dx")).as("__jcx"),
        (col("__cy") + col("__o.dy")).as("__jcy"))
    val home = pts.select(col("__id").as("__idb"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__cx").as("__jcx"),
      col("__cy").as("__jcy"))
    val dx = col("__xa") - col("__xb")
    val dy = col("__ya") - col("__yb")
    val nbrs = probe.join(home, Seq("__jcx", "__jcy"))
      .where(col("__ida") =!= col("__idb") &&
        dx * dx + dy * dy <= lit(eps * eps))
      .select(col("__ida"), col("__idb"))
      .localCheckpoint(true) // feeds count, core-edge, and border joins
    val flagged = pts
      .join(nbrs.groupBy(col("__ida").as("__id"))
        .agg(count(lit(1)).as("__nn")), Seq("__id"), "left")
      .withColumn("n_in_eps", coalesce(col("__nn"), lit(0L)) + 1)
      .withColumn("is_core", col("n_in_eps") >= minPts)
      .localCheckpoint(true)
    val coreIds = flagged.where(col("is_core")).select(col("__id"))
    val coreEdges = nbrs
      .join(coreIds.withColumnRenamed("__id", "__ida"), Seq("__ida"),
        "left_semi")
      .join(coreIds.withColumnRenamed("__id", "__idb"), Seq("__idb"),
        "left_semi")
    // Star contraction, NOT label propagation: an ε-neighborhood graph
    // is a random geometric graph whose hop diameter grows like
    // O(extent/ε) — a dense blob spanning the domain at sf0.1 measures
    // diameter > 40, so propagation exhausts its round budget and THEN
    // falls back (paying both algorithms: 13.7 s vs 4.9 s measured at
    // 2000 points). Contraction converges in O(log² n) rounds
    // regardless of diameter — the right default for spatial clusters.
    val cc = graft.operators.Dedup.connectedComponentsStarContraction(
      coreIds, "__id", coreEdges, "__ida", "__idb")
    val borderLbl = nbrs
      .join(cc.select(col("__id").as("__idb"),
        col("cluster_id").as("__bl")), Seq("__idb"))
      .groupBy(col("__ida").as("__id"))
      .agg(min(col("__bl")).as("__border_cluster"))
    flagged
      .join(cc.withColumnRenamed("cluster_id", "__core_cluster"),
        Seq("__id"), "left")
      .join(borderLbl, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_in_eps"), col("is_core"),
        when(col("is_core"), col("__core_cluster"))
          .otherwise(coalesce(col("__border_cluster"), lit(-1L)))
          .as("cluster"))
  }

  /** HDBSCAN-style density-level clustering (Campello et al.,
    * PAKDD'13) over a 2-D feature space: the λ-cuts of the
    * MUTUAL-REACHABILITY single-linkage hierarchy, evaluated at a fixed
    * ladder of λ levels — the density hierarchy [[dbscanGrid]]'s fixed ε
    * cannot express (its known weakness: one ε cannot separate clusters
    * of different densities; the ladder shows each cluster at the
    * density where it is born and where it dissolves into a coarser
    * one, and finer levels nest inside coarser ones by construction).
    *
    * Definitions (exact, k = minPts):
    *  - core distance cd(p) = distance to p's minPts-th nearest OTHER
    *    point;
    *  - mutual reachability mr(a,b) = max(cd(a), cd(b), d(a,b));
    *  - at level λ: points with cd(p) ≤ λ are in the level set; edges =
    *    pairs with mr ≤ λ; clusters = connected components (min-label;
    *    a singleton keeps its own id); cd > λ or undefined → noise −1.
    *    Single-linkage components at threshold λ ARE the CCs of the ≤λ
    *    edge graph, so this is exactly the HDBSCAN dendrogram level.
    *
    * The ε-join is grid-blocked per level (cells of side λ, 3×3 probe —
    * EXACT, [[dbscanGrid]]'s argument), and cd comes from the SAME
    * block: the in-block minPts-th-smallest distance equals the true
    * core distance whenever that value ≤ λ (every candidate within λ
    * shares an adjacent cell), and when it is > λ or missing the point
    * is noise at this level either way — so the level-λ labeling is
    * exact without ever materializing a global kNN. All comparisons are
    * identical-IEEE SQUARED distances (no sqrt, no rounding), so the
    * oracle reproduces every label from the exact N² pair set. At
    * 100 TB: per level, one 9×-explode equi-join, one per-point rank
    * window keyed on the point, star-contraction CC on the sparse ≤λ
    * graph — the m53 plan with one bounded window more, linear at fixed
    * density.
    *
    * SCALE NOTE (r16, ADVICE r15): the shared pair superset is blocked
    * at cell side λmax and eagerly materialized once for every level, so
    * its size — Σ|cell|·|3×3 block| at λmax grid resolution — is set by
    * the COARSEST level even when most requested levels are fine-
    * grained. With the catalog's two adjacent levels this is the win it
    * was built as; for a public-API call with λmax ≫ λmin (say ≥ ~4×)
    * prefer per-level blocking (call this once per λ), which trades the
    * shared pass for a pair set sized to each level's own density.
    *
    * Returns (level, idCol, cluster), cluster −1 = noise.
    */
  def hdbscanLevels(points: DataFrame, idCol: String, xCol: String,
      yCol: String, minPts: Int, lambdas: Seq[Double]): DataFrame = {
    require(lambdas.nonEmpty && minPts >= 2,
      s"need lambdas.nonEmpty, minPts >= 2; got $lambdas, $minPts")
    // r15 (guide §2.4 — remove shuffles outright): the per-level form
    // ran the 9×-explode grid join AND the core-distance rank window
    // once per λ. Both are now computed ONCE at λmax and each level is
    // derived by FILTERING, which is exact:
    //  - pair sharing: the 3×3 blocking at cell side λmax finds every
    //    pair with d ≤ λmax, a superset of every smaller level's pair
    //    set; the level-λ pairs are exactly `__d2 ≤ λ²` of that set.
    //  - core-distance sharing: cd²(a) = the minPts-th smallest __d2 in
    //    ascending (__d2, __idb) order. Ranked over the ≤λmax superset,
    //    the first minPts entries of a's list coincide with the ≤λ
    //    list's whenever the minPts-th value is ≤ λ² (every smaller
    //    entry is also ≤ λ²), so "rank-minPts value ≤ λ²" decides
    //    level-λ core membership identically to ranking the filtered
    //    list — one window, L membership tests.
    // Per level only the CC over its own edge graph remains. Oracle
    // unchanged (m71 re-verified); plan: 2 explode-joins + 2 windows →
    // 1 + 1 at L = 2.
    val lamMax = lambdas.max
    val pts = points.select(col(idCol).cast("long").as("__id"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .withColumn("__cx", floor(col("__x") / lamMax).cast("long"))
      .withColumn("__cy", floor(col("__y") / lamMax).cast("long"))
      .localCheckpoint(true)
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = pts.select(col("__id").as("__ida"), col("__x").as("__xa"),
        col("__y").as("__ya"), col("__cx"), col("__cy"),
        explode(offsets).as("__o"))
      .select(col("__ida"), col("__xa"), col("__ya"),
        (col("__cx") + col("__o.dx")).as("__jcx"),
        (col("__cy") + col("__o.dy")).as("__jcy"))
    val home = pts.select(col("__id").as("__idb"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__cx").as("__jcx"),
      col("__cy").as("__jcy"))
    val dx = col("__xa") - col("__xb")
    val dy = col("__ya") - col("__yb")
    val pairs = probe.join(home, Seq("__jcx", "__jcy"))
      .where(col("__ida") =!= col("__idb") &&
        dx * dx + dy * dy <= lit(lamMax * lamMax))
      .select(col("__ida"), col("__idb"),
        (dx * dx + dy * dy).as("__d2"))
      .localCheckpoint(true) // feeds the cd window AND every level's edges
    // cd²: the minPts-th smallest in-block squared distance; rank value
    // is tie-independent (equal d2 → same value at rank minPts).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__ida"))
      .orderBy(col("__d2").asc, col("__idb").asc)
    val cd = pairs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === minPts)
      .select(col("__ida").as("__id"), col("__d2").as("__cd2"))
      .localCheckpoint(true) // per level: both edge ends + the CC node set
    lambdas.zipWithIndex.map { case (lam, i) =>
      val members = cd.where(col("__cd2") <= lit(lam * lam))
        .select(col("__id"))
      // mr(a,b) ≤ λ ⟺ d ≤ λ ∧ cd(a) ≤ λ ∧ cd(b) ≤ λ
      val edges = pairs.where(col("__d2") <= lit(lam * lam))
        .join(members.withColumnRenamed("__id", "__ida"), Seq("__ida"),
          "left_semi")
        .join(members.withColumnRenamed("__id", "__idb"), Seq("__idb"),
          "left_semi")
        .select(col("__ida"), col("__idb"))
      val cc = graft.operators.Dedup.connectedComponentsStarContraction(
        members, "__id", edges, "__ida", "__idb")
      pts.join(cc, Seq("__id"), "left")
        .select(lit(i.toLong).as("level"), col("__id").as(idCol),
          coalesce(col("cluster_id"), lit(-1L)).as("cluster"))
    }.reduce(_.unionByName(_))
  }

  /** Simplified (centroid-based) silhouette — the clustering-quality
    * audit that scales: per point, a = distance to its OWN group
    * centroid, b = min distance to any OTHER centroid,
    * s = (b−a)/max(a,b) ∈ [−1, 1]; reported as the per-group mean plus
    * the count of misplaced points (s < 0). The full silhouette's
    * all-pairs mean distances are O(N²); against centroids the cost is
    * one posexplode aggregate for the k centroid means plus an
    * N × k bounded broadcast loop — the form every large-scale
    * clustering eval actually runs. Determinism is engineered: centroid
    * components and point-centroid distances are QUANTIZED (round 6)
    * before any comparison, so a/b selection and the s sign are
    * bit-reproducible cross-engine. Works for ANY assignment column —
    * the catalog audits the deterministic `label` grouping; feed
    * [[kmeansAssign]]'s output to score a learned clustering.
    */
  def simplifiedSilhouette(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(labelCol).as("label"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val cent = pts
      .select(col("label"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")) + lit(1e-9), 6).as("cv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("cvec"))
      .select(col("label").as("clabel"), col("cvec"))
    val dists = pts.crossJoin(broadcast(cent)) // bounded: k centroid rows
      .select(col("id"), col("label"), col("clabel"),
        round(sqrt(aggregate(zip_with(col("vec"), col("cvec"),
          (x, c) => (x - c) * (x - c)), lit(0.0), (acc, v) => acc + v))
          + lit(1e-9), 6).as("dist"))
    val perPoint = dists.groupBy(col("id"), col("label"))
      .agg(max(when(col("label") === col("clabel"), col("dist"))).as("a"),
        min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
      .select(col("label"),
        // a = b = 0 (a point exactly at its own AND the nearest other
        // centroid) would make the ratio NaN in Spark but NULL in
        // DuckDB (which avg ignores) — null it explicitly so the
        // degenerate point is ignored identically in both engines.
        when(greatest(col("a"), col("b")) > 0,
          round((col("b") - col("a")) / greatest(col("a"), col("b"))
            + lit(1e-9), 6)).as("s"))
    perPoint.groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("s")) + lit(1e-9), 6).as("avg_silhouette"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_negative"))
  }

  /** Per-group geometric median via fixed-iteration Weiszfeld (1937):
    * the robust centroid — minimizes Σ‖x−v‖ instead of Σ‖x−v‖², so a
    * handful of corrupt embeddings can't drag the center the way a mean
    * lets them. Starts from the (quantized) per-group mean; each
    * iteration reweights points by 1/distance-to-estimate:
    * est' = Σ x·(1/d) / Σ (1/d), zero-distance points excluded (the
    * standard Weiszfeld guard); a group whose EVERY point sits at the
    * estimate keeps the previous estimate (the fixed point) rather than
    * dropping out of the result. Plan per iteration: one broadcast join
    * of the |groups|-row estimate onto points for distances + one
    * posexplode aggregate for the reweighted components — never a pair
    * space. Determinism: estimate components and distances are QUANTIZED
    * (round 6) every iteration, so partial-sum ordering differences
    * can't compound across iterations and a fixed-round unrolled oracle
    * reproduces the estimates exactly. Returns per group: n_points, the
    * mean distance to the final estimate, and the estimate checksum
    * (in-order component sum).
    */
  def geometricMedian(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1; got $iters")
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(labelCol).as("label"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
      .localCheckpoint(true) // read once per iteration + the readout
    def assemble(grain: DataFrame): DataFrame = grain
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("evec"))
    def distTo(est: DataFrame): DataFrame = pts
      .join(broadcast(est), "label") // |groups| rows
      .select(col("id"), col("label"), col("vec"),
        round(sqrt(aggregate(zip_with(col("vec"), col("evec"),
          (x, c) => (x - c) * (x - c)), lit(0.0), (acc, v) => acc + v))
          + lit(1e-9), 6).as("d"))
    var est = assemble(pts
      .select(col("label"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")) + lit(1e-9), 6).as("cv")))
    (1 to iters).foreach { _ =>
      val next = assemble(distTo(est)
        .where(col("d") > 0)
        .select(col("label"), (lit(1.0) / col("d")).as("w"),
          posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(round(sum(col("v") * col("w")) / sum(col("w")) + lit(1e-9), 6)
          .as("cv")))
      // Weiszfeld fixed point: a group whose every point coincides with
      // the estimate has all d = 0, so the d > 0 reweight drops the
      // whole label from `next` — the common point IS the median, so the
      // group keeps its previous estimate instead of vanishing.
      est = est.select(col("label"), col("evec").as("__prev"))
        .join(next.select(col("label"), col("evec").as("__next")),
          Seq("label"), "left")
        .select(col("label"), coalesce(col("__next"), col("__prev"))
          .as("evec"))
    }
    distTo(est).groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("d")) + lit(1e-9), 6).as("avg_dist_gm"))
      .join(est.select(col("label"),
        round(aggregate(col("evec"), lit(0.0), (acc, v) => acc + v)
          + lit(1e-9), 6).as("gm_checksum")), "label")
  }
}
