package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10x scale probes ON THE RECORD (VERDICT r7 #5): the "survives 100x"
  * grade for the dedup/CC/graph family previously rested on plan-shape
  * argument plus one README A/B (`LshAb`); this measures medians at 1x
  * and 10x and prints them as one `[at-scale] {...}` JSON line.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe <sfDir> [factor]"`
  * (factor defaults to 10).
  *
  * Probes (the three the verdict named):
  *   - t17_cc — MinHash-LSH pairs -> connected components -> survivor
  *     pick (`Dedup.nearDupClusters`) over the documents corpus vs a 10x
  *     replica whose copies are strong near-dups (each copy differs in
  *     one trailing token — the LshAb corpus): candidate pair space
  *     grows ~45 pairs per source doc and every copy-set becomes one
  *     CC component, so banding, verify, AND the iterative min-label
  *     propagation are all genuinely exercised.
  *   - t7_jaccard — exact n-gram Jaccard via the inverted-index posting
  *     join with the hub cap (`Dedup.jaccardPairs`, maxShingleFreq=100,
  *     the t17-query config): at 10x every shingle's posting list grows
  *     10x (pair space ~100x where the cap admits it), which is exactly
  *     the blow-up the frequency cap exists to bound.
  *   - g5_labelprop — bounded min-label propagation
  *     (`Graph.labelPropagate`, 2 rounds) over a deterministic synthetic
  *     ring+chord graph at 100K vs 1M edges: the catalog g5's cost is
  *     dominated by deriving its 500-edge backbone, so scaling the
  *     OPERATOR needs an edge set that actually grows.
  *   - ann_lsh_topk — the ANN scale path (ann1's product plan) over a
  *     10x jittered vector corpus, with the plane count re-sized by the
  *     occupancy-constant rule (`Similarity.planesForCorpus`) the way a
  *     deployment re-sizes its index as the corpus grows.
  *   - t42_span_scrub (round 8) — the per-doc positionedTokens family
  *     (repeated-span scrub): every shuffle keys on doc_id, so the
  *     probe pins the ~linear-in-corpus claim for t42/t43.
  *   - t57_semdedup_10x (round 10) — the SemDeDup cell-blocked pair
  *     generator at 10x vectors: fixed-k vs cellsForCorpus-re-sized-k
  *     wall + candidate fraction, with a recall gate vs exact ground
  *     truth on a deterministic source sample.
  *
  * Each probe: 1 untimed warm rep (which also records result counts at
  * both scales — a probe whose output collapses would fake its ratio),
  * then 3 timed reps through the noop sink ([[Bench.materialize]]),
  * median reported. A scaled/base wall ratio well
  * under factor x (super-linear would be the red flag; ~linear or
  * better is the pass) is the recorded evidence that the plan shape
  * holds as data grows.
  */
object ScaleProbe {

  /** The probes [[run]] emits, one `atScale` key each. */
  val probeKeys: Seq[String] = Seq("ann_lsh_topk", "cc_ab_10x",
    "g16_labelprop_sync", "g5_labelprop", "g8_anf", "kmv_ab",
    "m43_mg_sketch", "m53_dbscan_10x", "m68_lof_lsh", "m71_hdbscan_10x",
    "st8_state_10x", "t17_cc", "t42_span_scrub", "t57_semdedup_10x",
    "t5_minhash_30x", "t73_prefix_doubling_10x", "t7_jaccard")

  private def medianOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** A failed probe must be VISIBLE on the artifact: with a silent
    * catch-and-drop, the absence of e.g. `t5_minhash_30x` is
    * indistinguishable from the probe being disabled by env var, which
    * defeats the point of a recall gate (ADVICE r9). Every probe body
    * that can fail emits an explicit `{"err": "..."}` entry instead.
    */
  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ").take(200) + "\""

  /** Median of 3 timed noop-sink reps after one untimed warm rep, which
    * also counts the result rows.
    */
  private def timeCount(f: () => DataFrame): (Double, Long) = {
    val n = f().count() // warm + result size
    (timeReps(f), n)
  }

  private def timeReps(f: () => DataFrame): Double =
    medianOf((1 to 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      Bench.materialize(f())
      (System.nanoTime() - t0) / 1e9
    })

  /** Ring + long-chord graph: connected, deterministic, edge count 2n. */
  private def chordGraph(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("s1"), ((col("id") + 1) % n).as("s2"))
      .unionAll(spark.range(n)
        .select(col("id").as("s1"), ((col("id") + 7919) % n).as("s2")))

  /** Runs every probe and returns the `atScale` JSON object body. */
  def run(spark: SparkSession, sfDir: String, factor: Int): String = {
    import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}
    lazy val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint(true)
    // LshAb's replication: copies are near-dups (one trailing token
    // differs) so the near-dup probes exercise verify/CC, not just scan.
    lazy val docsBig = docs
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") * factor + col("c")).as("doc_id"),
        concat(col("text"), lit(" zz"), col("c")).as("text"))
      .localCheckpoint(true)

    // ANN scale path (ann1's product plan): 10x the vector corpus, each
    // copy deterministically jittered in one dimension so copies are
    // near- but not exact neighbors — per-table bucket occupancy grows
    // 10x, which is what the banded hyperplane join must absorb.
    // k/planes/tables pinned to the catalog config.
    lazy val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    lazy val embBig = emb
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("vec_id"), col("embedding"))
      .select((col("vec_id") * factor + col("c")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + col("c").cast("float") * lit(0.001f))
            .otherwise(x)).as("embedding"))
      .localCheckpoint(true)

    // The hyperplane family's scale knob is planes ∝ log2(N)
    // (occupancy-constant — Similarity.planesForCorpus): at FIXED
    // planes=4 the 10x side measured 34x the base wall (bucket
    // occupancy 10x → per-bucket pairs ~100x). The probe runs the
    // configuration a deployment would: catalog planes (4) at 1x,
    // re-sized planes at 10x with occupancy held at the catalog
    // operating point (N / 2^4).
    lazy val nBase = emb.count()
    lazy val planesBig = Similarity.planesForCorpus(nBase * factor,
      math.max(1, (nBase >> 4).toInt))

    // g5 runs FIRST: its base side is the cheapest probe and sits
    // closest to the fixed-cost floor, so shuffle/GC debt left behind by
    // the heavy near-dup probes would bias exactly the number that can
    // least absorb it (measured: base 8.2 s after t7's 10x side vs
    // 3.0 s clean).
    val baseEdges = 100000L
    val probes: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("g5_labelprop",
        () => Graph.labelPropagate(chordGraph(spark, baseEdges), rounds = 2),
        () => Graph.labelPropagate(
          chordGraph(spark, baseEdges * factor), rounds = 2)),
      ("t17_cc",
        () => Dedup.nearDupClusters(docs, "text", "doc_id"),
        () => Dedup.nearDupClusters(docsBig, "text", "doc_id")),
      ("t7_jaccard",
        () => Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.3, 100),
        () => Dedup.jaccardPairs(docsBig, "text", "doc_id", 3, 0.3, 100)),
      // Per-doc span work (round 8): all shuffles key on doc_id, so the
      // scrub should scale ~linearly with the corpus — the probe pins
      // that claim for the whole positionedTokens family (t42/t43).
      ("t42_span_scrub",
        () => TextAnalysis.repeatedSpanScrub(docs, "doc_id", "text", k = 3),
        () => TextAnalysis.repeatedSpanScrub(docsBig, "doc_id", "text",
          k = 3)),
      ("ann_lsh_topk",
        () => Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
          numPlanes = 4, numTables = 8, dim = Tables.embeddingDim),
        () => Similarity.lshTopK(embBig, "vec_id", "embedding", k = 5,
          numPlanes = planesBig, numTables = 8,
          dim = Tables.embeddingDim)),
      // Misra-Gries (round 8, part O): the sketch's entire claim is that
      // shuffle volume is partitions × k regardless of corpus size — the
      // probe pins ~linear wall growth (scan-bound, k=8 forces constant
      // decrementing against the 31-token stream).
      ("m43_mg_sketch",
        () => {
          import spark.implicits._
          graft.operators.HeavyHitters.misraGries(
            docs.select(explode(split(lower(trim(col("text"))), "\\s+"))
              .as("token")).where(length(col("token")) > 0).as[String], 8)
        },
        () => {
          import spark.implicits._
          graft.operators.HeavyHitters.misraGries(
            docsBig.select(explode(split(lower(trim(col("text"))), "\\s+"))
              .as("token")).where(length(col("token")) > 0).as[String], 8)
        }),
      // ANF sketch iteration (round 10, g8): per-round state is |V|·k
      // longs by construction — the probe pins ~linear wall growth in
      // the edge count on a 10x chord graph (degree-constant, so edge
      // and node growth coincide; exact seeded BFS rides along at a
      // fixed 30 seeds and is noise at both scales).
      ("g8_anf",
        () => Graph.neighborhoodFunction(
          spark.range(baseEdges / 2).select(col("id")), "id",
          chordGraph(spark, baseEdges / 2), "s1", "s2",
          seeds = col("id") < 30, maxHops = 2, k = 16),
        () => Graph.neighborhoodFunction(
          spark.range(baseEdges * factor / 2).select(col("id")), "id",
          chordGraph(spark, baseEdges * factor / 2), "s1", "s2",
          seeds = col("id") < 30, maxHops = 2, k = 16)),
      // Synchronous frequency-argmax LPA (round 14, g16): each round is
      // one equi-join + (node,label) count + argmax window, labels
      // eager-checkpointed — the probe pins how the per-round checkpoint
      // cost grows with the edge set (the open question VERDICT r13 #6
      // named; catalog g16's cost is dominated by its 500-edge backbone
      // derivation, so scaling the operator needs a growing graph).
      ("g16_labelprop_sync",
        () => Graph.labelPropagation(chordGraph(spark, baseEdges),
          rounds = 3),
        () => Graph.labelPropagation(chordGraph(spark, baseEdges * factor),
          rounds = 3)),
      // LOF production twin (round 14, m68): kNN candidates from the
      // auto-sized hyperplane LSH index, then three thin joins on the
      // N·k frame — pins that the LOF algebra inherits the index's
      // ~linear growth instead of the oracle baseline's N² pair space.
      // Output is the fixed top-20, so rows are constant by design and
      // the wall ratio is the whole signal.
      ("m68_lof_lsh",
        () => Similarity.lofScoresLsh(emb, "vec_id", "embedding",
          k = 5, topN = 20),
        () => Similarity.lofScoresLsh(embBig, "vec_id", "embedding",
          k = 5, topN = 20)),
      // mm6's phash block join is deliberately NOT probed at 10x: a
      // 16-bit aHash saturates by birthday effect near 50K assets (the
      // RESULT grows ~quadratically, so a wall ratio measures output
      // size, not join shape). The pigeonhole equi-join's scale
      // evidence is t49's 64-bit SimHash twin — same block-index shape,
      // collision-free hash width.
      )

    // t17's attribution fields: rounds-to-fixpoint, mirrored edge count,
    // and per-round changed-label counts from the propagation loop —
    // recorded at BOTH scales so a wall ratio can be read against round
    // growth (diameter) vs edge growth (pair space) from the artifact
    // alone. The replica corpus grows pair space superlinearly by
    // construction (each copy-set adds ~C(factor,2) intra-set pairs per
    // source doc), so edge growth, not round growth, is the expected
    // driver.
    def ccFields(prefix: String): String =
      Dedup.lastCcStats.map(s =>
        s""","${prefix}_cc_rounds":${s.rounds}""" +
          s""","${prefix}_cc_edges":${s.edges}""" +
          s""","${prefix}_cc_changed":[${s.changedPerRound.mkString(",")}]""" +
          s""","${prefix}_cc_star_fallback":${s.usedStarFallback}""")
        .getOrElse("")

    val entries = probes.map { case (name, baseFn, bigFn) =>
      // t17's convergence telemetry needs Dedup.ccStatsEnabled, which
      // adds an edge-count job — so it's captured on ONE extra untimed
      // rep per scale with the flag raised, and the timed reps below run
      // with telemetry off like every product path (ADVICE r9).
      def statsRep(f: () => DataFrame, prefix: String): String =
        if (name != "t17_cc") ""
        else {
          Dedup.ccStatsEnabled = true
          try f().count() finally { Dedup.ccStatsEnabled = false }
          ccFields(prefix)
        }
      val baseExtra = statsRep(baseFn, "base")
      val (baseS, baseN) = timeCount(baseFn)
      val bigExtra = statsRep(bigFn, "scaled")
      val (bigS, bigN) = timeCount(bigFn)
      val ratio = bigS / math.max(baseS, 1e-9)
      s""""$name":{"factor":$factor,"base_s":${f"$baseS%.3f"}""" +
        s""","scaled_s":${f"$bigS%.3f"},"wall_ratio":${f"$ratio%.2f"}""" +
        s""","base_rows":$baseN,"scaled_rows":$bigN""" +
        baseExtra + bigExtra + "}"
    }

    // CC algorithm A/B on the SAME materialized 10x pair frame:
    // min-label propagation vs large-/small-star contraction, pair
    // generation excluded — the promotion evidence the t17 ratio alone
    // can't give (inside nearDupClusters the LSH banding and verify
    // joins dominate, so the CC algorithm's own cost is invisible).
    // Shallow components (near-dup copy-sets) are propagation's best
    // case; contraction pays more fixed rounds but bounds adversarial
    // diameters — the record shows which regime this corpus is in.
    val ccAb: String = try {
      val pairs10 = Dedup.minHashLshPairs(docsBig, "text", "doc_id",
        3, 32, 4, 0.5).localCheckpoint(true)
      val nodes10 = docsBig.select(col("doc_id"))
      val nPairs = pairs10.count()
      def timeOnly(f: () => DataFrame): Double = {
        Bench.materialize(f())
        timeReps(f)
      }
      // telemetry on an UNTIMED rep only: with stats always-on the
      // propagation side paid an edge-count job the star side never
      // wrote, biasing prop_s upward (ADVICE r9)
      Dedup.ccStatsEnabled = true
      try Dedup.connectedComponents(
        nodes10, "doc_id", pairs10, "id_a", "id_b").count()
      finally { Dedup.ccStatsEnabled = false }
      val propFields = ccFields("prop")
      val propS = timeOnly(() => Dedup.connectedComponents(
        nodes10, "doc_id", pairs10, "id_a", "id_b"))
      val starS = timeOnly(() => Dedup.connectedComponentsStarContraction(
        nodes10, "doc_id", pairs10, "id_a", "id_b"))
      val winner = if (starS < propS) "star" else "propagation"
      s""","cc_ab_10x":{"pairs":$nPairs,"prop_s":${f"$propS%.3f"}""" +
        s""","star_s":${f"$starS%.3f"},"winner":"$winner"""" +
        propFields + "}"
    } catch {
      case NonFatal(e) =>
        s""","cc_ab_10x":{"err":${jsonStr(e.toString)}}"""
    }

    val fragments: Seq[String] = (entries :+ ccAb) ++ Seq(
      dedup30x(spark, docs),
      semdedup10x(spark, emb, embBig, factor),
      kmvAb(spark, sfDir),
      dbscan10x(spark, emb, factor),
      hdbscan10x(spark, emb, factor),
      prefixDoubling10x(spark, docs, docsBig, factor),
      st8State10x(spark, sfDir, factor))
    fragments.map(_.stripPrefix(",")).filter(_.nonEmpty)
      .mkString("{", ",", "}")
  }

  /** HDBSCAN λ-level probe (round 15 — VERDICT r14 #2): 10x the points
    * under CONSTANT LOCAL DENSITY (the m53 treatment — copies shifted
    * +10·c in x, ≫ the coarsest λ, so copies never interact), because
    * that is the regime the grid blocking targets: per λ-level the
    * ε-join cost is Σ|cell|·|3×3 block|, linear in N at fixed density,
    * and the per-point core-distance window + star-contraction CC ride
    * the same cells. The copy construction makes the expected output
    * EXACT: per-level cluster / member / noise counts must replicate
    * ×factor bit-for-bit (`replicated_ok`), so a wall ratio that only
    * held because labels collapsed cannot pass.
    */
  private def hdbscan10x(spark: SparkSession, emb: DataFrame,
      factor: Int): String = try {
    if (sys.env.getOrElse("SPARK_GRAFT_HDBSCAN10X", "1") == "0")
      return ""","m71_hdbscan_10x":{"skipped":true}"""
    import graft.ml.Clustering
    val lambdas = Seq(0.02, 0.04) // the catalog m71 operating point
    val pts = emb.select(col("vec_id"),
        col("embedding")(0).cast("double").as("x"),
        col("embedding")(1).cast("double").as("y"))
      .localCheckpoint(true)
    val ptsBig = pts
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("vec_id"), col("x"), col("y"))
      .select((col("vec_id") * factor + col("c")).as("vec_id"),
        (col("x") + col("c").cast("double") * lit(10.0)).as("x"),
        col("y"))
      .localCheckpoint(true)
    def run(p: DataFrame) = Clustering.hdbscanLevels(p, "vec_id", "x",
      "y", minPts = 5, lambdas = lambdas)
    def stats(p: DataFrame): Seq[(Long, Long, Long)] =
      run(p).groupBy(col("level")).agg(
          countDistinct(when(col("cluster") >= 0, col("cluster")))
            .as("clusters"),
          sum(when(col("cluster") >= 0, 1L).otherwise(0L)).as("members"),
          sum(when(col("cluster") === -1, 1L).otherwise(0L)).as("noise"))
        .orderBy(col("level")).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val sB = stats(pts)
    val sS = stats(ptsBig)
    val replicated = sB.size == sS.size && sB.zip(sS).forall {
      case ((cB, mB, nB), (cS, mS, nS)) =>
        cS == cB * factor && mS == mB * factor && nS == nB * factor
    }
    val (baseS, baseN) = timeCount(() => run(pts))
    val (bigS, bigN) = timeCount(() => run(ptsBig))
    val ratio = bigS / math.max(baseS, 1e-9)
    s""","m71_hdbscan_10x":{"factor":$factor,"base_s":${f"$baseS%.3f"}""" +
      s""","scaled_s":${f"$bigS%.3f"},"wall_ratio":${f"$ratio%.2f"}""" +
      s""","base_rows":$baseN,"scaled_rows":$bigN""" +
      s""","base_level_stats":[${sB.map(t =>
        s"[${t._1},${t._2},${t._3}]").mkString(",")}]""" +
      s""","scaled_level_stats":[${sS.map(t =>
        s"[${t._1},${t._2},${t._3}]").mkString(",")}]""" +
      s""","replicated_ok":$replicated}"""
  } catch {
    case NonFatal(e) =>
      s""","m71_hdbscan_10x":{"err":${jsonStr(e.toString)}}"""
  }

  /** Prefix-doubling vs gram-ladder A/B at 1x and 10x (round 15 —
    * VERDICT r14 #2: "the at-scale claim is THE reason X192 exists").
    * The ladder twin mirrors the t73 DuckDB oracle in Spark: one pass
    * per window LENGTH h ∈ {1,2,4,8,16}, each shuffling the full token
    * stream on the RAW h-token gram string (keys widen with h), vs the
    * doubling form's log₂(16) = 4 equi-join waves over fixed-width md5
    * rank keys. Both forms must agree exactly on the replica corpus
    * (`agree_ok`, exceptAll both ways, untimed) — a speed ratio
    * between divergent computations would be meaningless.
    */
  private def prefixDoubling10x(spark: SparkSession, docs: DataFrame,
      docsBig: DataFrame, factor: Int): String = try {
    if (sys.env.getOrElse("SPARK_GRAFT_PREFIXDOUBLING10X", "1") == "0")
      return ""","t73_prefix_doubling_10x":{"skipped":true}"""
    import graft.operators.TextAnalysis
    def doubling(d: DataFrame) =
      TextAnalysis.repeatedPrefixBuckets(d, "doc_id", "text", maxPow = 4)
    def ladder(d: DataFrame): DataFrame = {
      val base = d.where(length(lower(trim(col("text")))) > 0)
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("tk"))
      val grams = Seq(1, 2, 4, 8, 16).map { h =>
        base.select(col("doc_id"), col("tk"),
            posexplode(col("tk")).as(Seq("i0", "t")))
          .where(col("i0") + h <= size(col("tk")))
          .select(col("doc_id"), (col("i0") + 1).as("p"),
            lit(h.toLong).as("h"),
            array_join(slice(col("tk"), col("i0") + 1, lit(h)), " ")
              .as("g"))
      }.reduce(_.unionByName(_))
      val dup = grams.groupBy(col("g"), col("h"))
        .agg(count(lit(1)).as("__c")).where(col("__c") >= 2)
        .select(col("g"), col("h"))
      val rep = grams.join(dup, Seq("g", "h"), "left_semi")
      val perDoc = rep.groupBy(col("doc_id")).agg(
        max(col("h")).as("__max_bucket"),
        sum(when(col("h") === 4L, 1L).otherwise(0L)).as("__rep4"),
        sum(when(col("h") === 16L, 1L).otherwise(0L)).as("__rep16"))
      base.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("__max_bucket"), lit(0L)).as("max_rep_bucket"),
          coalesce(col("__rep4"), lit(0L)).as("n_pos_rep4"),
          coalesce(col("__rep16"), lit(0L)).as("n_pos_rep16"))
    }
    // equality gate on the replica corpus (untimed)
    val agree = doubling(docsBig).exceptAll(ladder(docsBig)).count() == 0 &&
      ladder(docsBig).exceptAll(doubling(docsBig)).count() == 0
    val (baseDblS, baseN) = timeCount(() => doubling(docs))
    val (baseLadS, _) = timeCount(() => ladder(docs))
    val (bigDblS, bigN) = timeCount(() => doubling(docsBig))
    val (bigLadS, _) = timeCount(() => ladder(docsBig))
    s""","t73_prefix_doubling_10x":{"factor":$factor""" +
      s""","base_doubling_s":${f"$baseDblS%.3f"}""" +
      s""","base_ladder_s":${f"$baseLadS%.3f"}""" +
      s""","scaled_doubling_s":${f"$bigDblS%.3f"}""" +
      s""","scaled_ladder_s":${f"$bigLadS%.3f"}""" +
      s""","doubling_ratio":${f"${bigDblS / math.max(baseDblS, 1e-9)}%.2f"}""" +
      s""","ladder_ratio":${f"${bigLadS / math.max(baseLadS, 1e-9)}%.2f"}""" +
      s""","scaled_advantage":${f"${bigLadS / math.max(bigDblS, 1e-9)}%.2f"}""" +
      s""","base_rows":$baseN,"scaled_rows":$bigN,"agree_ok":$agree}"""
  } catch {
    case NonFatal(e) =>
      s""","t73_prefix_doubling_10x":{"err":${jsonStr(e.toString)}}"""
  }

  /** Stream-stream interval-join state probe (round 15 — VERDICT r14
    * #2): the st8 LEFT OUTER plan at 1x vs 10x events, with the state
    * store's peak row count on the record. The replica multiplies
    * USERS (user_id·factor + c), keeping every per-user stream shape
    * intact, so join state and output must both scale ×factor
    * (`replicated_ok`) while the watermark semantics are unchanged.
    * Wall measures the full AvailableNow cycle (plan + state build +
    * drain) — the unit a deployment re-runs per batch window.
    */
  private def st8State10x(spark: SparkSession, sfDir: String,
      factor: Int): String = try {
    if (sys.env.getOrElse("SPARK_GRAFT_ST8STATE10X", "1") == "0")
      return ""","st8_state_10x":{"skipped":true}"""
    import graft.streaming.Streaming
    val stage = java.nio.file.Files.createTempDirectory("graft_st8_probe")
    val bigDir = stage.resolve("ev10").toString
    Tables.events(spark, sfDir)
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .select((col("event_id") * factor + col("c")).as("event_id"),
        col("ts"), (col("user_id") * factor + col("c")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(bigDir)
    // the staged single file must be named like the Tables layout the
    // stream reader expects (events.parquet inside the dir)
    val part = new java.io.File(bigDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val oneDir = stage.resolve("sf10x")
    java.nio.file.Files.createDirectories(oneDir)
    java.nio.file.Files.copy(part.toPath,
      oneDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def cycle(dir: String, name: String): (Double, Long, Long) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", 8)
      val raw = Streaming.readEventsStream(s2, dir)
      val purchases = raw.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = raw.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"))
      val plan = Streaming.intervalJoinLeftOuter(purchases, views,
          "user_id", "ts", maxDelayMinutes = 60, watermark = "0 seconds")
        .select(col("l.event_id").as("event_id"), col("r.ts").as("v_ts"))
      val t0 = System.nanoTime()
      val q = plan.writeStream.outputMode("append").format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val stateRows = q.recentProgress
        .map(p => p.stateOperators.map(_.numRowsTotal).sum).maxOption
        .getOrElse(0L)
      val rows = s2.table(name).count()
      s2.catalog.dropTempView(name)
      (wall, stateRows, rows)
    }
    def side(dir: String, tag: String): (Double, Long, Long) = {
      cycle(dir, s"st8probe_${tag}_warm") // warm: codegen + file listing
      val reps = (1 to 3).map { i =>
        System.gc(); cycle(dir, s"st8probe_${tag}_$i")
      }
      (medianOf(reps.map(_._1)), reps.map(_._2).max, reps.head._3)
    }
    val (baseS, baseState, baseRows) = side(sfDir, "base")
    val (bigS, bigState, bigRows) = side(oneDir.toString, "big")
    val replicated = bigRows == baseRows * factor
    val ratio = bigS / math.max(baseS, 1e-9)
    s""","st8_state_10x":{"factor":$factor,"base_s":${f"$baseS%.3f"}""" +
      s""","scaled_s":${f"$bigS%.3f"},"wall_ratio":${f"$ratio%.2f"}""" +
      s""","base_state_rows":$baseState,"scaled_state_rows":$bigState""" +
      s""","state_ratio":${f"${bigState.toDouble /
        math.max(baseState, 1L)}%.2f"}""" +
      s""","base_rows":$baseRows,"scaled_rows":$bigRows""" +
      s""","replicated_ok":$replicated}"""
  } catch {
    case NonFatal(e) =>
      s""","st8_state_10x":{"err":${jsonStr(e.toString)}}"""
  }

  /** Grid-blocked DBSCAN scale probe (round 11, m53): 10x the points
    * under CONSTANT LOCAL DENSITY — copies shifted +10·c in x (≫ ε, so
    * copies never interact) — because that is the regime the grid
    * blocking targets: ε-join cost is Σ|cell|·|3×3 block|, linear in N
    * at fixed density. (Adding points to the SAME region instead grows
    * true neighbor pairs ~quadratically — that is the data's geometry,
    * not the plan's; ε is the density knob, the way planes are LSH's.)
    * The copy construction makes the expected output EXACT: core /
    * cluster / noise counts must replicate ×factor bit-for-bit, so
    * `replicated_ok` is a structural correctness gate at scale riding
    * the same probe — a wall ratio that only held because labels
    * collapsed cannot pass it. SPARK_GRAFT_DBSCAN10X=0 skips with an
    * explicit marker.
    */
  private def dbscan10x(spark: SparkSession, emb: DataFrame,
      factor: Int): String = try {
    if (sys.env.getOrElse("SPARK_GRAFT_DBSCAN10X", "1") == "0")
      return ""","m53_dbscan_10x":{"skipped":true}"""
    import graft.ml.Clustering
    val pts = emb.select(col("vec_id"),
        col("embedding")(0).cast("double").as("x"),
        col("embedding")(1).cast("double").as("y"))
      .localCheckpoint(true)
    val ptsBig = pts
      .select(explode(sequence(lit(0), lit(factor - 1))).as("c"),
        col("vec_id"), col("x"), col("y"))
      .select((col("vec_id") * factor + col("c")).as("vec_id"),
        (col("x") + col("c").cast("double") * lit(10.0)).as("x"),
        col("y"))
      .localCheckpoint(true)
    def run(p: DataFrame) =
      Clustering.dbscanGrid(p, "vec_id", "x", "y", eps = 0.02, minPts = 5)
    def stats(p: DataFrame): (Long, Long, Long) = {
      val r = run(p).agg(
        sum(when(col("is_core"), 1L).otherwise(0L)).as("core"),
        countDistinct(when(col("cluster") >= 0, col("cluster")))
          .as("clusters"),
        sum(when(col("cluster") === -1, 1L).otherwise(0L)).as("noise"))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (coreB, clB, nzB) = stats(pts)
    val (coreS, clS, nzS) = stats(ptsBig)
    val replicated = coreS == coreB * factor && clS == clB * factor &&
      nzS == nzB * factor
    val (baseS, baseN) = timeCount(() => run(pts))
    val (bigS, bigN) = timeCount(() => run(ptsBig))
    val ratio = bigS / math.max(baseS, 1e-9)
    s""","m53_dbscan_10x":{"factor":$factor,"base_s":${f"$baseS%.3f"}""" +
      s""","scaled_s":${f"$bigS%.3f"},"wall_ratio":${f"$ratio%.2f"}""" +
      s""","base_rows":$baseN,"scaled_rows":$bigN""" +
      s""","base_core":$coreB,"base_clusters":$clB,"base_noise":$nzB""" +
      s""","scaled_core":$coreS,"scaled_clusters":$clS""" +
      s""","scaled_noise":$nzS,"replicated_ok":$replicated}"""
  } catch {
    case NonFatal(e) =>
      s""","m53_dbscan_10x":{"err":${jsonStr(e.toString)}}"""
  }

  /** SemDeDup block-index scale probe (VERDICT r9 #1): the t5_minhash_30x
    * treatment for `Similarity.clusterBlockedPairs` — the one near-dup
    * path whose 100 TB claim previously rested on a fixture-sized k=8
    * constant. Over the 10x jittered vector corpus it measures, on the
    * record:
    *   - the FIXED-k-vs-RE-SIZED-k contrast: catalog k at 10x the
    *     vectors (occupancy 10x → per-vector candidates 10x) vs
    *     k = `Clustering.cellsForCorpus` holding occupancy at the 1x
    *     operating point — wall and candidate fraction for both, so the
    *     self-sizing rule's value is a measured number, not scaladoc;
    *   - a RECALL GATE for the re-sized (deployment) config against
    *     exact-cosine ground truth on a deterministic 1/8 source sample
    *     (all `factor` copies of every sampled source, so intra-copy-set
    *     near-dups AND inherited cross-source pairs are both audited);
    *     sampling bounds only the ground-truth cost — the blocked side
    *     runs the full 10x corpus.
    * Quantizer fits run UNTIMED (index build, amortized in deployment —
    * ann2c's treatment); the timed path is pair generation, which is
    * what a dedup pass pays per corpus scan. SPARK_GRAFT_SEMDEDUP10X=0
    * skips with an explicit marker.
    */
  private def semdedup10x(spark: SparkSession, emb: DataFrame,
      embBig: DataFrame, factor: Int): String = try {
    if (sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP10X", "1") == "0")
      return ""","t57_semdedup_10x":{"skipped":true}"""
    import graft.ml.Clustering
    import graft.operators.Similarity
    val threshold = 0.45 // the catalog t57 operating point
    val nprobe = 4
    val kBase = 8
    val nBase = emb.count()
    val nBig = embBig.count()
    val occ = math.max(1, (nBase / kBase).toInt) // 1x operating occupancy
    val kResized = Clustering.cellsForCorpus(nBig, occ)
    val centsBase = Clustering.kmeansCentroids(emb, "embedding", kBase, 7L)
      .localCheckpoint(true)
    val centsFixed = Clustering.kmeansCentroids(embBig, "embedding",
      kBase, 7L).localCheckpoint(true)
    val centsResized = Clustering.kmeansCentroids(embBig, "embedding",
      kResized, 7L).localCheckpoint(true)
    val (baseS, basePairs) = timeCount(() => Similarity.clusterBlockedPairs(
      emb, "vec_id", "embedding", threshold, centsBase, nprobe))
    val (fixedS, fixedPairs) = timeCount(() => Similarity.clusterBlockedPairs(
      embBig, "vec_id", "embedding", threshold, centsFixed, nprobe))
    val (resizedS, resizedPairs) = timeCount(() =>
      Similarity.clusterBlockedPairs(
        embBig, "vec_id", "embedding", threshold, centsResized, nprobe))
    // admission rates, separated from the verify filter (untimed)
    val pairSpace = nBig.toDouble * (nBig - 1) / 2.0
    val fixedCand = Similarity.clusterBlockedCandidatePairs(
      embBig, "vec_id", "embedding", centsFixed, nprobe).count()
    val resizedCand = Similarity.clusterBlockedCandidatePairs(
      embBig, "vec_id", "embedding", centsResized, nprobe).count()
    // ground truth: every copy of a deterministic 1/8 of the sources
    val sampled = embBig
      .where(pmod(expr(s"vec_id div $factor"), lit(8L)) === 0)
      .localCheckpoint(true)
    val nSampled = sampled.count()
    val truth = Similarity.exactThresholdPairs(
        sampled, "vec_id", "embedding", threshold)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val nTruth = truth.count()
    def foundBy(cents: DataFrame): Long =
      truth.join(Similarity.clusterBlockedPairs(embBig, "vec_id",
          "embedding", threshold, cents, nprobe),
        Seq("id_a", "id_b"), "left_semi").count()
    val foundResized = foundBy(centsResized)
    val foundFixed = foundBy(centsFixed)
    val recall = if (nTruth == 0) 1.0 else foundResized.toDouble / nTruth
    val recallFixed = if (nTruth == 0) 1.0 else foundFixed.toDouble / nTruth
    s""","t57_semdedup_10x":{"factor":$factor,"n_vectors":$nBig""" +
      s""","k_base":$kBase,"base_s":${f"$baseS%.3f"},"base_pairs":$basePairs""" +
      s""","fixedk_s":${f"$fixedS%.3f"},"fixedk_pairs":$fixedPairs""" +
      s""","fixedk_candidates":$fixedCand""" +
      s""","fixedk_cand_fraction":${f"${fixedCand / pairSpace}%.3e"}""" +
      s""","fixedk_recall":${f"$recallFixed%.4f"}""" +
      s""","k_resized":$kResized,"resized_s":${f"$resizedS%.3f"}""" +
      s""","resized_pairs":$resizedPairs,"resized_candidates":$resizedCand""" +
      s""","resized_cand_fraction":${f"${resizedCand / pairSpace}%.3e"}""" +
      s""","sampled_vectors":$nSampled,"truth_pairs":$nTruth""" +
      s""","found_pairs":$foundResized,"recall":${f"$recall%.4f"}""" +
      s""","recall_floor":0.85,"recall_ok":${recall >= 0.85}}"""
  } catch {
    case NonFatal(e) =>
      s""","t57_semdedup_10x":{"err":${jsonStr(e.toString)}}"""
  }

  /** One order of magnitude past the 10x record for the flagship dedup
    * path (VERDICT r8 #5): `minHashLshPairs` at the t5 catalog config
    * over a 30x replica corpus, with a RECALL GATE — wall time alone
    * can't show an LSH index staying honest as the corpus grows (a
    * config that stops finding pairs also stops paying for them).
    *
    * On the record per run:
    *   - wall median (3 reps) + verified-pair count at 30x;
    *   - the banding stage's CANDIDATE count and its fraction of the
    *     N·(N−1)/2 pair space — the number that must stay ~0 for the
    *     equi-join shape to survive 100 TB (brute force at this corpus
    *     is ~11 billion pairs; the S-curve admits ~1e-4 of them);
    *   - recall against exact Jaccard ground truth on a deterministic
    *     sample of intra-copy-set pairs (md5-keyed source sample ×
    *     first 5 copies): truth = exact shingle Jaccard ≥ threshold,
    *     found = truth ∩ LSH output, so estimator noise (32-hash
    *     signature agreement vs true Jaccard) is measured, not assumed.
    *     Sampling only bounds the GROUND-TRUTH cost (exact Jaccard per
    *     audited pair); the LSH side is the full 30x corpus.
    *
    * Floor 0.9: measured recall is 0.96–1.0 (the sampled truth pairs
    * are near-identical copies, J ≈ 0.9+, where 32-hash agreement
    * rarely dips under the 0.5 verify threshold); 0.9 leaves margin
    * for fixture regeneration without ever accepting a broken band
    * join. SPARK_GRAFT_DEDUP30X=0 skips (≈2 min).
    */
  private def dedup30x(spark: SparkSession, docs: DataFrame): String = try {
    // an explicit skip marker: absence of the entry must never be
    // ambiguous between "disabled" and "crashed" (ADVICE r9)
    if (sys.env.getOrElse("SPARK_GRAFT_DEDUP30X", "1") == "0")
      return ""","t5_minhash_30x":{"skipped":true}"""
    import graft.operators.Dedup
    val f = 30
    val docsBig = docs
      .select(explode(sequence(lit(0), lit(f - 1))).as("c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") * f + col("c")).as("doc_id"),
        concat(col("text"), lit(" zz"), col("c")).as("text"))
      .localCheckpoint(true)
    val nDocs = docsBig.count()
    val (wallS, nPairs) = timeCount(() =>
      Dedup.minHashLshPairs(docsBig, "text", "doc_id", 3, 32, 4, 0.5))
    // Candidate count from the banding stage alone (untimed): the
    // S-curve's admission rate, separated from the verify filter.
    val sig = Dedup.minHashSignatureArrayInline(
      docsBig, "text", "doc_id", 3, 32).localCheckpoint(true)
    val nCand = Dedup.bandCollisionPairs(sig, "doc_id", 32, 4).count()
    val candFrac = nCand.toDouble / (nDocs.toDouble * (nDocs - 1) / 2.0)
    // Ground truth: deterministic ~4% source sample, copies 0..4 → 10
    // intra-set pairs per sampled source; exact Jaccard via shingle-set
    // intersect/union (the same shingle definition the LSH signatures
    // hash, so threshold semantics line up exactly).
    val sampled = docsBig
      .withColumn("__src", expr(s"doc_id div $f"))
      .where(pmod(col("doc_id"), lit(f.toLong)) < 5 &&
        pmod(Dedup.md5Hash56(col("__src").cast("string")), lit(25L)) === 0)
      .localCheckpoint(true)
    val sets = Dedup.shingles(sampled, "text", "doc_id", 3)
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("shset"))
      .localCheckpoint(true)
    val pairTab = sampled.select(col("__src"), col("doc_id").as("id_a"))
      .join(sampled.select(col("__src"), col("doc_id").as("id_b")), "__src")
      .where(col("id_a") < col("id_b"))
    val truth = pairTab
      .join(sets.select(col("doc_id").as("id_a"), col("shset").as("__sa")),
        "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shset").as("__sb")),
        "id_b")
      .where(size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
        size(array_union(col("__sa"), col("__sb"))) >= 0.5)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val nSampledPairs = pairTab.count()
    val nTruth = truth.count()
    val lshOut = Dedup.minHashLshPairs(docsBig, "text", "doc_id", 3, 32, 4, 0.5)
    val nFound = truth.join(lshOut, Seq("id_a", "id_b"), "left_semi").count()
    val recall = if (nTruth == 0) 1.0 else nFound.toDouble / nTruth
    s""","t5_minhash_30x":{"factor":$f,"n_docs":$nDocs""" +
      s""","wall_s":${f"$wallS%.3f"},"pairs":$nPairs""" +
      s""","candidates":$nCand,"cand_fraction":${f"$candFrac%.3e"}""" +
      s""","sampled_pairs":$nSampledPairs,"truth_pairs":$nTruth""" +
      s""","found_pairs":$nFound,"recall":${f"$recall%.4f"}""" +
      s""","recall_floor":0.9,"recall_ok":${recall >= 0.9}}"""
  } catch {
    case NonFatal(e) =>
      s""","t5_minhash_30x":{"err":${jsonStr(e.toString)}}"""
  }

  /** KMV construction A/B on the record ([[KmvAb.measure]]): custom
    * map-combinable aggregate vs builtin window/collect chains, with
    * bit-equality asserted in-run. SPARK_GRAFT_KMVAB=0 skips; a crash
    * emits an explicit err entry (ADVICE r9's visibility rule).
    */
  private def kmvAb(spark: SparkSession, sfDir: String): String = try {
    if (sys.env.getOrElse("SPARK_GRAFT_KMVAB", "1") == "0") ""
    else s""","kmv_ab":{${KmvAb.measure(spark, sfDir, reps = 3)}}"""
  } catch {
    case NonFatal(e) =>
      s""","kmv_ab":{"err":${jsonStr(e.toString)}}"""
  }

  def main(args: Array[String]): Unit = {
    // the probe JSON is f-interpolated: pin a '.' decimal separator
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try {
      val body = run(spark, sfDir, factor)
      println(s"[at-scale] $body")
      val missing = probeKeys.filterNot(k => body.contains("\"" + k + "\":"))
      if (missing.nonEmpty)
        println(s"[at-scale] missing probes: ${missing.mkString(", ")}")
    } finally spark.stop()
  }
}
