package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph centrality over entity-relation edge lists.
  *
  * The reference has no graph analytics (its closest relative is the
  * transitive duplicate closure, see [[Dedup.connectedComponents]]); this
  * is a §2.12 training-data extension: influence / importance scoring over
  * interaction graphs (wallet↔collection, customer↔supplier) feeds both
  * sampling weights and quality priors for corpus curation.
  *
  * `localCheckpoint(true)` contract (every iterative loop below): the
  * EAGER flag is load-bearing. Per-round state (ranks, frontiers, walk
  * heads) is consumed both by the next round and by the final readout,
  * and eager materialization pins one set of rows for all consumers
  * while keeping plan depth O(1) per round instead of O(branchingᶦᵗᵉʳˢ).
  * A lazy checkpoint or cache could recompute under eviction —
  * reintroducing fp-order (and, for hash-argmin walks, tie-order)
  * nondeterminism between consumers. Trade-off: cut lineage cannot
  * replay after executor loss; for long-lived cluster jobs swap in
  * reliable `checkpoint()` against a checkpoint dir, same semantics.
  */
object Graph {

  /** Fixed-iteration PageRank with dangling-mass redistribution:
    *
    *   rank_{i+1}(v) = (1−d)/N + d · ( Σ_{u→v} rank_i(u)/out(u) + D_i/N )
    *
    * where `D_i` is the total rank mass sitting on dangling nodes (no
    * out-edges) at iteration i — redistributed uniformly, the standard
    * power-method formulation, so Σ rank = 1 is preserved exactly.
    *
    * Plan shape (the Pregel loop expressed as one shuffle per round):
    * - `edges` (made distinct) and the out-degree frame are computed once
    *   and `localCheckpoint`ed — the same once-not-per-round rule as
    *   [[Dedup.connectedComponents]].
    * - N is an in-plan broadcast 1-row aggregate crossJoined in, never a
    *   driver-side `.count()` (no plan-time job).
    * - Each iteration is exactly one shuffle (the `groupBy(dst)` contrib
    *   sum; the edges⋈ranks join co-partitions on src) plus one broadcast
    *   1-row dangling aggregate. Ranks are `localCheckpoint`ed per round
    *   so the plan depth stays O(1) instead of O(3^iters).
    * At 100 TB: edges partition by src once and every round reuses that
    *   partitioning; ranks are |V| rows (thin), the only per-round state.
    */
  /** Exact triangle count + wedge count + global clustering coefficient
    * over an undirected edge list (`s1 < s2`, no duplicates), via DEGREE
    * ORIENTATION — the standard trick that makes distributed triangle
    * counting feasible: orient every edge from its lower-(degree, id)
    * endpoint to its higher one, then count directed wedges u→v, u→w
    * (v before w in the same total order) closed by v→w. Orientation
    * bounds every node's out-degree by O(√m) regardless of how skewed
    * the raw degree distribution is — the hub that would explode a naive
    * wedge self-join (deg² pairs on a celebrity node) contributes almost
    * no out-wedges because nearly all its edges point INTO it. The wedge
    * join is an equi-join on u and the closing check an equi-join on
    * (v, w): both hash-partitionable, total work O(m^1.5) worst case.
    * Degrees are |V| rows (thin) and broadcast back onto edges.
    */
  def triangleStats(edges: DataFrame, s1: String = "s1",
      s2: String = "s2"): DataFrame = {
    // The edge list fans out into SIX consumers (degree union ×2, the
    // orientation join, both wedge sides, the closing join). Without
    // materialization Spark re-executes the upstream edge-construction
    // subtree once per consumer — measured 15.2 s → 2.3 s at sf0.1 when
    // the backbone upstream is a 9M-row co-occurrence aggregation.
    // localCheckpoint computes it once; the edge frame itself is tiny.
    val e = edges.select(col(s1), col(s2)).localCheckpoint()
    val deg = e.select(col(s1).as("v"))
      .unionAll(e.select(col(s2).as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // Orient: u = lower (d, id) endpoint, w_ = higher. Ties break on id,
    // making the order total, so each undirected edge orients one way.
    val withDeg = e
      .join(broadcast(deg.withColumnRenamed("v", s1)
        .withColumnRenamed("d", "d1")), s1)
      .join(broadcast(deg.withColumnRenamed("v", s2)
        .withColumnRenamed("d", "d2")), s2)
    val oriented = withDeg.select(
      when(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col(s1) < col(s2)), col(s1))
        .otherwise(col(s2)).as("u"),
      when(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col(s1) < col(s2)),
        struct(col("d2").as("d"), col(s2).as("id")))
        .otherwise(struct(col("d1").as("d"), col(s1).as("id"))).as("hi"))
      .select(col("u"), col("hi.id").as("v"), col("hi").as("vrank"))
      .localCheckpoint() // 3 consumers (both wedge sides + closing join)
    // Directed wedges out of u, ordered by the (deg, id) rank so each
    // unordered out-pair is enumerated once; close with the oriented edge.
    val w1 = oriented.select(col("u"), col("v").as("a"), col("vrank").as("ar"))
    val w2 = oriented.select(col("u"), col("v").as("b"), col("vrank").as("br"))
    val wedges = w1.join(w2, "u").where(col("ar") < col("br"))
    val closing = oriented.select(col("u").as("a"), col("v").as("b"))
    val tri = wedges.join(closing, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedgeCount = deg.agg((sum(col("d") * (col("d") - 1)) / 2)
      .cast("long").as("n_wedges"))
    tri.crossJoin(wedgeCount)
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges") + lit(1e-9), 6)
          .as("clustering_coeff"))
  }

  /** Per-node LOCAL clustering coefficient — the node-grain refinement
    * of [[triangleStats]]'s global census: cc(v) = 2·tri(v)/(d(v)·(d(v)−1)),
    * the fraction of v's neighbor pairs that are themselves connected.
    * The node-level signal matters where the global coefficient
    * averages it away: community cores (cc→1) vs brokers/bridges (cc→0)
    * at the same degree — the stratification a graph-aware sampler or
    * spam screen keys on.
    *
    * Same degree-orientation plan as the census (each triangle
    * enumerated exactly ONCE as (u, a, b) — O(m^1.5) bound, equi-joins
    * only); the per-node counts are one explode of the three roles +
    * one groupBy, then a broadcast-shaped left join back onto the
    * degree frame so zero-triangle nodes keep their row. d < 2 nodes
    * have no neighbor pair: cc defined 0. All-integer inputs → fully
    * hash-oracled against a naive three-way self-join oracle (different
    * enumeration, same triangles — the g3 discipline).
    */
  def localClustering(edges: DataFrame, s1: String = "s1",
      s2: String = "s2"): DataFrame = {
    val e = edges.select(col(s1), col(s2)).localCheckpoint()
    val deg = e.select(col(s1).as("v"))
      .unionAll(e.select(col(s2).as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(broadcast(deg.withColumnRenamed("v", s1)
        .withColumnRenamed("d", "d1")), s1)
      .join(broadcast(deg.withColumnRenamed("v", s2)
        .withColumnRenamed("d", "d2")), s2)
    val oriented = withDeg.select(
      when(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col(s1) < col(s2)), col(s1))
        .otherwise(col(s2)).as("u"),
      when(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col(s1) < col(s2)),
        struct(col("d2").as("d"), col(s2).as("id")))
        .otherwise(struct(col("d1").as("d"), col(s1).as("id"))).as("hi"))
      .select(col("u"), col("hi.id").as("v"), col("hi").as("vrank"))
      .localCheckpoint()
    val w1 = oriented.select(col("u"), col("v").as("a"), col("vrank").as("ar"))
    val w2 = oriented.select(col("u"), col("v").as("b"), col("vrank").as("br"))
    val triples = w1.join(w2, "u").where(col("ar") < col("br"))
      .join(oriented.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"))
      .select(col("u"), col("a"), col("b"))
    val perNode = triples
      .select(explode(array(col("u"), col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("v"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("v").as("node"), col("d").as("degree"),
        col("t").as("n_triangles"),
        round(when(col("d") >= 2,
          lit(2.0) * col("t") / (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)) + lit(1e-9), 6).as("local_cc"))
  }

  /** Bounded k-core peel: `rounds` iterations of "drop every node with
    * degree < k, keep edges whose endpoints both survive", then the
    * surviving nodes with their degree (`v`, `deg`). The true k-core is
    * this peel run to fixpoint; a FIXED round count keeps the result
    * deterministic and cross-engine checkable (the same bounded-rounds
    * convention as the subgraph-CC rounds in t17's lineage).
    *
    * Contract: the WHOLE edge list is packed into ONE aggregate row and
    * peeled there by a runtime `aggregate` fold over the rounds (the
    * [[Similarity.mmrSelect]] pattern), so callers pass a bounded top-N
    * edge list — g4 passes at most 500 edges. A round costs
    * O(|V|·|E|) array work inside one task and runs no Spark job. An
    * unbounded graph needs a distributed per-round loop (a degree
    * aggregate and two anti-joins per round, with a stop-when-empty
    * check on the dropped-node count), not this operator. The id type
    * of `s1` (which `s2` must share) is kept; edges with a null
    * endpoint are dropped; an empty edge list gives an empty result.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      s1: String = "s1", s2: String = "s2"): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0; got $rounds")
    // (v, deg) of every endpoint of an edge array, deg = multiplicity
    def degrees(es: Column): Column =
      let(concat(transform(es, _.getField("a")),
          transform(es, _.getField("b")))) { vs =>
        transform(array_distinct(vs), v => struct(v.as("v"),
          (size(vs) - size(array_remove(vs, v))).cast("long").as("deg")))
      }
    val packed = edges.where(col(s1).isNotNull && col(s2).isNotNull)
      .agg(collect_list(struct(col(s1).as("a"), col(s2).as("b"))).as("es"))
    // one fold step per round (array_repeat, unlike sequence(1, 0), is
    // empty at rounds = 0)
    val peeled = aggregate(array_repeat(lit(0), rounds), col("es"),
      (es, _) => let(transform(filter(degrees(es),
          d => d.getField("deg") < k), _.getField("v"))) { drop =>
        filter(es, e => !array_contains(drop, e.getField("a")) &&
          !array_contains(drop, e.getField("b")))
      })
    packed.select(explode(degrees(peeled)).as("d"))
      .select(col("d.v"), col("d.deg"))
  }

  /** `f(x)` with `x` evaluated once: a lambda body re-evaluates every
    * expression it captures for each element, so a shared intermediate
    * is bound as the single element of a one-element `transform`.
    */
  private def let(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** Bounded synchronous min-label propagation — the cheapest community
    * primitive: every node starts labeled with its own id; each round it
    * takes the min of its own label and its neighbors' labels. Run to
    * fixpoint this computes connected components (see
    * [[Dedup.connectedComponents]] for the large-diameter form); a FIXED
    * round count keeps the result deterministic and cross-engine
    * checkable while preserving the per-round plan you'd run to
    * convergence: one equi-join of the (thin, |V|-row) label frame onto
    * the symmetrized edges + one min-groupBy — a single shuffle per
    * round. Since r15 the rounds chain LAZILY (each round references the
    * label frame exactly once, and integer-min semantics make any
    * recomputation bit-identical), so the loop executes as one job at
    * the caller's action; plan DEPTH therefore grows linearly with
    * `rounds`. Sized for the catalog's small fixed round counts (<= 5):
    * a caller passing a large `rounds` should re-checkpoint every ~10
    * rounds to keep analysis/optimizer time bounded.
    * Returns the community histogram (label, member count) after
    * `rounds` rounds.
    */
  def labelPropagate(edges: DataFrame, rounds: Int,
      s1: String = "s1", s2: String = "s2"): DataFrame = {
    // r15 (guide §1.2/§2.4): self-loops folded into the symmetrized
    // edge list make the per-round update a SINGLE join + min-groupBy —
    // min over (self ∪ neighbors) ≡ least(own, min neighbor), the old
    // join + left-join + coalesce in one shuffle, with the label frame
    // referenced once per round. That single-use shape lets the rounds
    // chain LAZILY (linear plan growth; integer min semantics are
    // recomputation-deterministic), so the whole bounded loop runs as
    // one job at the caller's action instead of a checkpoint job per
    // round.
    // materialize the raw edge plan ONCE (the symmetrize + self-loop
    // union references it three times; an un-checkpointed upstream —
    // e.g. the g5 backbone — would execute per reference)
    val e0 = edges.select(col(s1).as("a"), col(s2).as("b"))
      .localCheckpoint(true)
    val e = e0
      .unionAll(e0.select(col("b").as("a"), col("a").as("b")))
      .unionAll(e0.select(col("a").as("v"))
        .unionAll(e0.select(col("b").as("v")))
        .distinct()
        .select(col("v").as("a"), col("v").as("b"))) // self-loops
      .localCheckpoint(true)
    var lbl = e.select(col("a").as("v")).distinct()
      .select(col("v"), col("v").as("l"))
    for (_ <- 1 to rounds) {
      lbl = e
        .join(lbl.withColumnRenamed("v", "b").withColumnRenamed("l", "nl"),
          "b")
        .groupBy(col("a").as("v")).agg(min(col("nl")).as("l"))
    }
    lbl.groupBy(col("l").as("community")).agg(count(lit(1)).as("n_members"))
  }

  def pageRank(
      nodes: DataFrame, idCol: String,
      edges0: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    // r16 (guide §1.2/§2.4): setup fused from four eager materializations
    // to two. The out-degree rides the edge checkpoint as a window count
    // (one action instead of a second checkpoint + a per-round broadcast
    // join), the node frame carries a static __dangling flag (the
    // dangling set never changes — only its rank mass does), so each
    // round's dangling-mass scalar is a filter + sum over the previous
    // round's checkpoint instead of an anti-join, and the uniform r_0 is
    // a lazy projection of the checkpointed node frame (recomputing a
    // constant-column select is cheaper than pinning it). Measured on the
    // g1 shape: 2.73 -> 2.54 s at 3 iterations, max |Δrank| ~1e-19 (the
    // out-degree now multiplies in a different plan position; same
    // values, partial-agg order may differ at ulp scale — absorbed by
    // the catalog's round(..., 6) + 1e-9 emission).
    val edges = edges0
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct()
      .withColumn("__od",
        count(lit(1)).over(Window.partitionBy(col("__src"))))
      .localCheckpoint(true)
    val ids = nodes.select(col(idCol).as("__id")).distinct()
      .join(edges.select(col("__src").as("__id"))
        .withColumn("__hasout", lit(1)).dropDuplicates("__id"),
        Seq("__id"), "left")
      .select(col("__id"), col("__hasout").isNull.as("__dangling"))
      .localCheckpoint(true)
    val nTot = broadcast(ids.agg(count(lit(1)).cast("double").as("__n")))

    var ranks = ids.crossJoin(nTot)
      .select(col("__id"), col("__dangling"),
        (lit(1.0) / col("__n")).as("__r"))
    for (_ <- 1 to iters) {
      val dangling = broadcast(ranks.where(col("__dangling"))
        .agg(coalesce(sum(col("__r")), lit(0.0)).as("__dm")))
      val contrib = edges
        .join(ranks.select(col("__id").as("__src"), col("__r")), "__src")
        .groupBy(col("__dst").as("__id"))
        .agg(sum(col("__r") / col("__od")).as("__c"))
      val next = ids.join(contrib, Seq("__id"), "left")
        .crossJoin(dangling).crossJoin(nTot)
        .select(col("__id"), col("__dangling"),
          (lit(1.0 - damping) / col("__n") + lit(damping) *
            (coalesce(col("__c"), lit(0.0)) + col("__dm") / col("__n")))
            .as("__r"))
        .localCheckpoint(true)
      ranks.unpersist()
      ranks = next
    }
    ranks.select(col("__id").as(idCol), col("__r").as("pagerank"))
  }

  /** Personalized PageRank: teleport (and dangling mass) flow to a SEED
    * set instead of uniformly to all nodes — rank becomes proximity to
    * the seeds, the random-walk-with-restart scoring behind
    * related-item / audience-expansion recommendation. Same per-round
    * shape as [[pageRank]] (one shuffle + a broadcast 1-row dangling
    * aggregate + localCheckpoint), with the teleport vector carried as
    * a column of the node frame: t(v) = 1/|S| on seeds, 0 elsewhere,
    * r_0 = t, r_{t+1} = (1−d)·t + d·(contrib + dm·t).
    */
  def pageRankPersonalized(
      nodes: DataFrame, idCol: String,
      edges0: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    // r16: the same fused setup as [[pageRank]] — out-degree on the edge
    // checkpoint, static __dangling flag on the node frame, lazy r_0
    // (here r_0 = the teleport column itself). The teleport vector stays
    // a pinned column of the node checkpoint.
    val edges = edges0
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct()
      .withColumn("__od",
        count(lit(1)).over(Window.partitionBy(col("__src"))))
      .localCheckpoint(true)
    val seedIds = seeds.select(col(idCol).as("__id")).distinct()
    val nSeeds = broadcast(
      seedIds.agg(count(lit(1)).cast("double").as("__ns")))
    val ids = nodes.select(col(idCol).as("__id")).distinct()
      .join(seedIds.withColumn("__seed", lit(1)), Seq("__id"), "left")
      .join(edges.select(col("__src").as("__id"))
        .withColumn("__hasout", lit(1)).dropDuplicates("__id"),
        Seq("__id"), "left")
      .crossJoin(nSeeds)
      .select(col("__id"),
        when(col("__seed").isNotNull, lit(1.0) / col("__ns"))
          .otherwise(lit(0.0)).as("__t"),
        col("__hasout").isNull.as("__dangling"))
      .localCheckpoint(true)

    var ranks = ids.select(col("__id"), col("__t"), col("__dangling"),
      col("__t").as("__r"))
    for (_ <- 1 to iters) {
      val dangling = broadcast(ranks.where(col("__dangling"))
        .agg(coalesce(sum(col("__r")), lit(0.0)).as("__dm")))
      val contrib = edges
        .join(ranks.select(col("__id").as("__src"), col("__r")), "__src")
        .groupBy(col("__dst").as("__id"))
        .agg(sum(col("__r") / col("__od")).as("__c"))
      val next = ids.join(contrib, Seq("__id"), "left")
        .crossJoin(dangling)
        .select(col("__id"), col("__t"), col("__dangling"),
          (lit(1.0 - damping) * col("__t") + lit(damping) *
            (coalesce(col("__c"), lit(0.0)) + col("__dm") * col("__t")))
            .as("__r"))
        .localCheckpoint(true)
      ranks.unpersist()
      ranks = next
    }
    ranks.select(col("__id").as(idCol), col("__r").as("ppr"))
  }

  /** Neighborhood function N(v, h) = |{u : dist(v,u) <= h}| over the
    * symmetrized edge list, computed two ways in one pass — the ANF
    * construction (Palmer et al., KDD'02; HyperANF, Boldi et al.,
    * WWW'11) with [[ThetaSketch]] KMV registers instead of
    * Flajolet-Martin/HLL, plus an exact seeded BFS for validation:
    *
    *  - EVERY node carries a k-minimum-values sketch of its reachable
    *    set, initialized to {hash(v)} and advanced one hop per round by
    *    merging each node's sketch with its neighbors' (one equi-join on
    *    the edge + one groupBy(node) merge per round). Per-round state is
    *    k longs per node — the whole point of ANF: at 100 TB the exact
    *    reachable sets are quadratic, the sketch frame stays |V|·k.
    *  - The EXACT side runs the same frontier expansion but only from
    *    `seeds` (exact BFS from every node IS the quadratic object the
    *    sketch exists to avoid), giving ground truth where it's
    *    affordable.
    *
    * Because KMV union is exact (the k smallest of a merged sketch pair
    * equal the k smallest of the united set), the iterated sketch of v
    * at hop h is bit-identical to the KMV of v's exact h-hop reach set —
    * so with the engine-portable md5 hash the ESTIMATES are exactly
    * reproducible by an oracle that only knows the reach sets, and the
    * whole output is hash-checkable with no tolerance gate.
    *
    * Returns one row per (seed, hop 1..maxHops): (idCol, hop,
    * n_reach — exact, self included; anf_est — the seed's KMV estimate
    * from the all-nodes sketch iteration, rounded 6dp).
    */
  def neighborhoodFunction(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Column, maxHops: Int, k: Int): DataFrame = {
    require(maxHops >= 1 && k >= 2, s"need maxHops>=1, k>=2; got $maxHops, $k")
    // r15: materialize the raw edge plan before mirroring — the union
    // references it twice, so an un-checkpointed upstream (the catalog
    // callers pass a lazy orders⋈lineitem join) executed per reference
    val e0 = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .localCheckpoint(true)
    val sym = e0.union(e0.select(col("__d"), col("__s")))
      .distinct().localCheckpoint(true)
    val ids = nodes.select(col(idCol).as("__v"), seeds.as("__seed"))
      .localCheckpoint(true)
    var reach = ids.where(col("__seed"))
      .select(col("__v"), col("__v").as("__u")).localCheckpoint(true)
    var sk = ids.select(col("__v"),
        array(ThetaSketch.hash56(col("__v"))).as("__kmv"))
      .localCheckpoint(true)
    val perHop = (1 to maxHops).map { h =>
      val expanded = reach.join(sym, col("__u") === col("__s"))
        .select(col("__v"), col("__d").as("__u"))
      reach = reach.union(expanded).distinct().localCheckpoint(true)
      // neighbor sketches flow ALONG the edge; the merge is one
      // MAP-COMBINABLE custom aggregate (KmvMergeAgg): each map-side
      // partition forwards at most k longs per node, so the per-round
      // exchange is bounded by |V|·k per partition no matter the edge
      // count or hub degree — no collect_list, no exploded per-hash
      // frame, no post-shuffle dedup.
      val nbr = sk.join(sym, col("__v") === col("__s"))
        .select(col("__d").as("__v"), col("__kmv"))
      sk = sk.union(nbr)
        .groupBy(col("__v"))
        .agg(graft.expressions.KmvMergeAgg(col("__kmv"), k).as("__kmv"))
        .localCheckpoint(true)
      val cnt = reach.groupBy(col("__v"))
        .agg(count(lit(1)).as("n_reach"))
      cnt.join(sk, "__v")
        .select(col("__v").as(idCol), lit(h).as("hop"), col("n_reach"),
          round(ThetaSketch.estimate(col("__kmv"), k) + lit(1e-9), 6)
            .as("anf_est"))
    }
    perHop.reduce(_ unionByName _)
  }

  /** Multi-source BFS shortest-hop distance: every node's minimum hop
    * count from the `seeds` set over the symmetrized edge list, up to
    * `maxHops` (unreached nodes → hop = -1).
    *
    * Textbook frontier expansion, one round per hop:
    *  - the frontier (nodes first reached last round) joins the edge
    *    list (equi-join on src — ONE shuffle against the pre-partitioned,
    *    localCheckpoint'ed edge frame),
    *  - already-settled nodes drop via an anti-join against the settled
    *    set, so each vertex is expanded EXACTLY ONCE over the whole run —
    *    total work O(|E|) across all rounds, not O(|E|·hops).
    * Per-round state is the settled frame (≤ |V| thin rows) plus the
    * shrinking frontier; `localCheckpoint` holds plan depth at O(1). At
    * 100 TB the frontier join inherits the edge frame's hash
    * partitioning round over round — the same Pregel shape as
    * [[pageRank]] / [[neighborhoodFunction]].
    *
    * Oracle note: hop levels are set arithmetic (membership in the h-th
    * reach set but not the (h−1)-th), so a SQL oracle reproduces them
    * exactly by unrolling the reach CTEs — no tolerance gate needed.
    */
  def bfsHops(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, seeds: Column,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1; got $maxHops")
    // r15: materialize before mirroring (see neighborhoodFunction)
    val e0 = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .localCheckpoint(true)
    val sym = e0.union(e0.select(col("__d"), col("__s")))
      .distinct().localCheckpoint(true)
    val ids = nodes.select(col(idCol).as("__v"), seeds.as("__seed"))
      .localCheckpoint(true)
    var settled = ids.where(col("__seed"))
      .select(col("__v"), lit(0).as("hop")).localCheckpoint(true)
    var frontier = settled
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(sym, col("__v") === col("__s"))
        .select(col("__d").as("__v")).distinct()
        .join(settled.select(col("__v")), Seq("__v"), "left_anti")
        .select(col("__v"), lit(h).as("hop"))
        .localCheckpoint(true)
      settled = settled.union(next).localCheckpoint(true)
      frontier = next
      h += 1
    }
    ids.select(col("__v"))
      .join(settled, Seq("__v"), "left")
      .select(col("__v").as(idCol),
        coalesce(col("hop"), lit(-1)).as("hop"))
  }

  /** Hop-bounded single/multi-source shortest WEIGHTED paths (the
    * Bellman–Ford relaxation, frontier form): after round h every node
    * carries the cheapest cost reachable from the `seeds` set using at
    * most h edges; `maxHops` bounds the rounds (the streaming/iterative
    * engines' standard contract — unbounded negative-cycle-safe BF is
    * |V| rounds, which no 100 TB graph runs).
    *
    * Frontier relaxation, one equi-join shuffle per round against the
    * once-materialized symmetric weighted edge frame: only nodes whose
    * cost IMPROVED last round re-expand (the textbook queue pruning —
    * a settled interior re-expands zero times on metric-like weights),
    * then a min-combine against the running costs. INTEGER weights in,
    * integer costs out — path costs are exact sums, so an unrolled
    * min-plus oracle reproduces every cost bit-for-bit (no float
    * accumulation question). Unreached nodes → cost -1.
    */
  def shortestPathsBounded(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      seeds: Column, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1; got $maxHops")
    val e0 = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
      col(weightCol).cast("long").as("__w"))
      .localCheckpoint(true) // r15: one evaluation of the caller's plan
    // parallel edges keep only the cheapest; mirrored for undirected
    val sym = e0.union(e0.select(col("__d").as("__s"),
        col("__s").as("__d"), col("__w")))
      .groupBy(col("__s"), col("__d")).agg(min(col("__w")).as("__w"))
      .localCheckpoint(true)
    val ids = nodes.select(col(idCol).as("__v"), seeds.as("__seed"))
      .localCheckpoint(true)
    var dist = ids.where(col("__seed"))
      .select(col("__v"), lit(0L).as("cost")).localCheckpoint(true)
    var frontier = dist
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val relaxed = frontier.join(sym, col("__v") === col("__s"))
        .groupBy(col("__d").as("__v"))
        .agg(min(col("cost") + col("__w")).as("__cand"))
      val next = relaxed.join(dist, Seq("__v"), "left")
        .where(col("cost").isNull || col("__cand") < col("cost"))
        .select(col("__v"), col("__cand").as("cost"))
        .localCheckpoint(true)
      dist = dist.join(next.select(col("__v"), col("cost").as("__new")),
          Seq("__v"), "full_outer")
        .select(col("__v"),
          least(coalesce(col("cost"), col("__new")),
            coalesce(col("__new"), col("cost"))).as("cost"))
        .localCheckpoint(true)
      frontier = next
      h += 1
    }
    ids.select(col("__v"))
      .join(dist, Seq("__v"), "left")
      .select(col("__v").as(idCol),
        coalesce(col("cost"), lit(-1L)).as("cost"))
  }

  /** Adamic–Adar link prediction over an undirected edge list: for every
    * non-adjacent pair (x, y) sharing at least `minCommon` neighbors,
    * score Σ_z 1/ln(deg z) over the shared neighbors z — the classic
    * "friends-of-friends, discounted by hub promiscuity" recommender
    * prior. Plan: one wedge equi-join on the CENTER node (never a pair
    * cross product — candidate pairs exist only where a 2-hop path
    * does), degrees broadcast (|V| rows), existing edges removed by an
    * anti-join. deg(z) ≥ 2 for every wedge center by construction, so
    * ln(deg z) never hits zero. The integer `minCommon` floor keeps the
    * output deterministic cross-engine (no fp-boundary LIMIT). Wedge
    * fan-out is Σ_z deg(z)², so one hot hub is quadratic: the
    * `maxDegPerCenter` guard bounds it by keeping, per center, only the
    * `maxDegPerCenter` neighbors with the smallest md5(z‖nb) hash — a
    * deterministic uniform sample (the standard AA hub approximation),
    * capping wedge work at Σ_z min(deg z, cap)² ≤ |V|·cap² regardless
    * of skew. The degree DISCOUNT (1/ln deg z) always uses the TRUE
    * degree, so capping only subsamples which pairs a hub witnesses —
    * it never inflates a hub's per-wedge weight. Default = no cap
    * (exact; the backbone graphs here are degree-bounded already);
    * at crawl scale pass a cap in the hundreds.
    */
  def adamicAdar(edges: DataFrame, s1: String = "s1", s2: String = "s2",
      minCommon: Int = 2, maxDegPerCenter: Int = Int.MaxValue)
      : DataFrame = {
    require(maxDegPerCenter >= 2,
      s"need maxDegPerCenter >= 2; got $maxDegPerCenter")
    val e = edges.select(col(s1), col(s2)).localCheckpoint(true)
    val adjAll = e.select(col(s1).as("z"), col(s2).as("nb"))
      .unionAll(e.select(col(s2).as("z"), col(s1).as("nb")))
    // true degree BEFORE any cap: the discount must reflect the hub's
    // real promiscuity even when its wedge enumeration is subsampled
    val deg = adjAll.groupBy(col("z")).agg(count(lit(1)).as("d"))
    val adj =
      if (maxDegPerCenter == Int.MaxValue) adjAll
      else {
        val wCap = Window.partitionBy(col("z")).orderBy(
          md5(concat_ws(":", col("z"), col("nb"))), col("nb"))
        adjAll.withColumn("__cr", row_number().over(wCap))
          .where(col("__cr") <= maxDegPerCenter)
          .drop("__cr")
      }
    val w1 = adj.select(col("z"), col("nb").as("x"))
    val w2 = adj.select(col("z"), col("nb").as("y"))
    val wedges = w1.join(w2, "z").where(col("x") < col("y"))
      .join(broadcast(deg), "z")
    // direction-normalized existing-edge set, so the anti-join holds for
    // arbitrary undirected input (not just s1 < s2 edge lists)
    val eNorm = e.select(least(col(s1), col(s2)).as("x"),
      greatest(col(s1), col(s2)).as("y"))
    wedges
      .join(eNorm, Seq("x", "y"), "left_anti")
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("d").cast("double"))).as("__aa"))
      .where(col("n_common") >= minCommon)
      .select(col("x"), col("y"), col("n_common"),
        round(col("__aa") + lit(1e-9), 6).as("aa_score"))
  }

  /** HITS hubs-and-authorities (Kleinberg '99) over a directed edge
    * list, fixed `iters` mutual-reinforcement rounds with L2
    * normalization after every update: a(v) ← Σ_{(u,v)} h(u),
    * h(u) ← Σ_{(u,v)} a(v). On a bipartite buyer→supplier graph the
    * authority side ranks suppliers by the strength of the buyers
    * backing them — degree-adjusted, unlike a raw count. Each
    * half-round is one equi-join + one groupBy on an edge endpoint
    * (thin |V|-row score frames — AQE broadcasts them when they fit,
    * shuffle-joins when they don't), the L2 norm
    * is a 1-row scalar broadcast, and scores are `localCheckpoint`ed
    * per round so plan depth stays O(iters). Fixed rounds keep it
    * oracle-checkable; convergence at scale is the same loop with a
    * driver check on the (scalar) score delta.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int)
      : DataFrame = {
    require(iters >= 1, s"need iters >= 1; got $iters")
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__t"))
      .localCheckpoint(true)
    def l2Normalize(scores: DataFrame, sc: String): DataFrame = {
      val nrm = scores.agg(sqrt(sum(col(sc) * col(sc))).as("__nrm"))
      scores.crossJoin(broadcast(nrm)) // 1-row scalar
        .select(col("__v"), (col(sc) / col("__nrm")).as(sc))
        .localCheckpoint(true)
    }
    // r16: hub_0 = 1.0 on every source, so the first half-step's
    // join-then-sum is just an in-degree count — sum over n copies of
    // the double 1.0 is EXACTLY n (integers are exact in doubles far
    // beyond any degree), so the special case is bit-identical to the
    // joined form while skipping the hub_0 checkpoint and the first
    // edge join. (The DuckDB oracle's own first CTE is the same
    // count(*).)
    var hub: DataFrame = null
    var auth: DataFrame = null
    (1 to iters).foreach { _ =>
      auth = l2Normalize(
        if (hub == null)
          e.groupBy(col("__t").as("__v"))
            .agg(count(lit(1)).cast("double").as("__a"))
        else
          e.join(hub.withColumnRenamed("__v", "__s"), "__s")
            .groupBy(col("__t").as("__v")).agg(sum(col("__h")).as("__a")),
        "__a")
      hub = l2Normalize(
        e.join(auth.withColumnRenamed("__v", "__t"), "__t")
          .groupBy(col("__s").as("__v")).agg(sum(col("__a")).as("__h")),
        "__h")
    }
    hub.select(lit("hub").as("side"), col("__v").as("node"),
        round(col("__h") + lit(1e-9), 6).as("score"))
      .unionAll(auth.select(lit("authority").as("side"),
        col("__v").as("node"),
        round(col("__a") + lit(1e-9), 6).as("score")))
  }

  /** Deterministic pseudo-random walks over an undirected edge list —
    * the node2vec/DeepWalk corpus-generation step, made reproducible:
    * one walk starts at every node, and at step t it moves to the
    * neighbor v minimizing md5(walk:t:v) — a hash-argmin that plays the
    * role of the RNG draw, so two runs (or two engines) emit
    * byte-identical walks with per-step, per-walk independent choices.
    * Each step is one adjacency equi-join + one walk-partitioned argmin
    * window (never a data-sized unpartitioned anything); plan depth
    * stays O(steps) via per-step checkpoints. Walks may backtrack (as
    * unbiased DeepWalk does); dead ends cannot occur on an undirected
    * graph. Returns (walk_id, step, node) with step 0 = the start.
    */
  def deterministicWalks(edges: DataFrame, s1: String = "s1",
      s2: String = "s2", steps: Int = 4): DataFrame = {
    require(steps >= 1, s"need steps >= 1; got $steps")
    val e = edges.select(col(s1), col(s2)).localCheckpoint(true)
    val adj = e.select(col(s1).as("u"), col(s2).as("v"))
      .unionAll(e.select(col(s2).as("u"), col(s1).as("v")))
      .localCheckpoint(true)
    var cur = adj.select(col("u").as("walk_id")).distinct()
      .withColumn("node", col("walk_id"))
      .localCheckpoint(true)
    var out = cur.withColumn("step", lit(0))
    (1 to steps).foreach { t =>
      val w = Window.partitionBy(col("walk_id"))
        .orderBy(col("__h"), col("v"))
      cur = cur.join(adj, col("node") === col("u"))
        .withColumn("__h", md5(concat(col("walk_id").cast("string"),
          lit(s":$t:"), col("v").cast("string"))))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("walk_id"), col("v").as("node"))
        .localCheckpoint(true)
      out = out.unionAll(cur.withColumn("step", lit(t)))
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** Synchronous label propagation community detection (Raghavan et al.
    * '07) made deterministic: every node starts labeled with itself;
    * each round, every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — so the fixed-round
    * result is engine- and schedule-independent (async LPA's
    * order-sensitivity is the classic reproducibility hole; synchronous
    * + total-order tie-break closes it). Distinct from connected
    * components: min-label propagation converges to components, while
    * frequency-argmax carves dense regions apart inside one component.
    * Each round is one equi-join on the neighbor key + one
    * (node, label) count + a per-node argmax window — one shuffle wave
    * per round. Since r15 the rounds chain LAZILY with ONE final
    * checkpoint (single-reference rounds + integer counts with
    * total-order tie-breaks make recomputation bit-identical); plan
    * depth grows linearly with `rounds`, sized for the catalog's fixed
    * <= 3 — re-checkpoint every ~10 rounds if you pass something large.
    * Returns one row per community: (community, size, min_node).
    */
  def labelPropagation(edges: DataFrame, s1: String = "s1",
      s2: String = "s2", rounds: Int = 3): DataFrame =
    labelPropagationAssign(edges, s1, s2, rounds)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("size"), min(col("v")).as("min_node"))

  /** Per-node form of [[labelPropagation]] — the (v, label) assignment
    * after `rounds` synchronous rounds, for consumers that need the
    * membership itself (modularity scoring, community-conditioned
    * aggregates) rather than the community summary.
    */
  def labelPropagationAssign(edges: DataFrame, s1: String = "s1",
      s2: String = "s2", rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1; got $rounds")
    val e = edges.select(col(s1), col(s2)).localCheckpoint(true)
    val adj = e.select(col(s1).as("v"), col(s2).as("nb"))
      .unionAll(e.select(col(s2).as("v"), col(s1).as("nb")))
      .localCheckpoint(true)
    var labels = adj.select(col("v")).distinct()
      .withColumn("label", col("v"))
    // r15 (guide §1.2 — fewer jobs): rounds chain LAZILY and only the
    // FINAL assignment is checkpointed (one job instead of rounds + 1).
    // Safe here specifically: each round references `labels` exactly
    // once (linear plan growth, unlike the CC loop's two-sided use) and
    // every round is integer counts + a total-order tie-break, so a
    // recomputation under eviction is bit-identical — the FP-ordering
    // argument that forces per-round pinning in pageRank/HITS does not
    // apply. Fixed round counts in the catalog are ≤ 3, so plan depth
    // stays trivially bounded.
    (1 to rounds).foreach { _ =>
      val w = Window.partitionBy(col("v"))
        .orderBy(col("cnt").desc, col("label").asc)
      labels = adj
        .join(labels.select(col("v").as("nb"), col("label")), "nb")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("v"), col("label"))
    }
    labels.localCheckpoint(true) // materialized once for multi-consumers
  }

  /** Newman modularity (Newman & Girvan '04) of a community assignment
    * over an undirected simple edge list: per community c,
    * Q_c = L_c/m − (d_c/2m)², where L_c = edges with both ends in c,
    * d_c = Σ degrees of c's nodes, m = |edges|; global Q = Σ_c Q_c.
    * THE quality gate for any community detector (LPA included): Q > 0
    * means denser-than-chance communities, and comparing Q across
    * round counts / algorithms is how a pipeline picks one. Plan: one
    * degree aggregate, one label join per edge end, two grouped
    * aggregates, the 1-row edge count broadcast onto the k-row result —
    * every shuffle keys on node or community, nothing quadratic.
    * Returns (community, n_nodes, internal_edges, degree_sum,
    * q_contribution) — sum q_contribution for global Q.
    */
  def modularity(edges: DataFrame, s1: String, s2: String,
      assign: DataFrame, vCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(s1).as("__a"), col(s2).as("__b"))
      .localCheckpoint(true) // feeds m, degrees, and the internal count
    val m = e.agg(count(lit(1)).as("__m"))
    val lab = assign.select(col(vCol).as("__v"), col(labelCol).as("__c"))
      .localCheckpoint(true) // joined on both edge ends + the degree side
    val deg = e.select(col("__a").as("__v"))
      .unionAll(e.select(col("__b").as("__v")))
      .groupBy(col("__v")).agg(count(lit(1)).as("__d"))
    val dC = deg.join(lab, Seq("__v"))
      .groupBy(col("__c"))
      .agg(sum(col("__d")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    val lC = e
      .join(lab.select(col("__v").as("__a"), col("__c").as("__ca")),
        Seq("__a"))
      .join(lab.select(col("__v").as("__b"), col("__c").as("__cb")),
        Seq("__b"))
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c"))
      .agg(count(lit(1)).as("internal_edges"))
    dC.join(lC, Seq("__c"), "left")
      .crossJoin(broadcast(m)) // 1-row scalar attach
      .select(col("__c").as("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L))
            .cast("double") / col("__m")
          - pow(col("degree_sum").cast("double")
            / (lit(2.0) * col("__m")), 2) + lit(1e-9), 6)
          .as("q_contribution"))
  }

  /** One synchronous Louvain local-move round (Blondel et al. '08
    * phase 1, one pass): every node i evaluates, against the CURRENT
    * assignment, the modularity gain of joining each neighboring
    * community c (its own community is always a candidate), and adopts
    * the argmax. The gain of placing i (removed from its community
    * first) into c is the standard
    * ΔQ(i→c) = k_{i,c}/m − k_i·Σ'_tot(c)/(2m²), where k_{i,c} = i's
    * edges into c, k_i = i's degree, Σ'_tot(c) = the degree sum of c's
    * members excluding i, m = |edges| — so "stay" scores as ΔQ(i→C(i))
    * under the same formula and the comparison is uniform. All moves
    * apply simultaneously (synchronous — engine- and
    * schedule-independent, unlike the sequential sweep whose result
    * depends on visit order), ties break to the SMALLEST candidate
    * community id. Gains are compared UNROUNDED: every operand is an
    * integer count, and IEEE-754 division/multiplication of identical
    * integers is exactly rounded, so two engines order candidates
    * identically. This is the greedy refinement step [[modularity]]
    * scores and [[labelPropagationAssign]] seeds — one LPA pass to
    * carve dense regions, one move round to repair locally suboptimal
    * assignments, modularity to certify the improvement.
    *
    * Plan: one degree aggregate, one per-community degree sum, one
    * (node, neighbor-community) count — each a single shuffle keyed on
    * node or community — then a per-node argmax window. Nothing
    * quadratic; the candidate frame is bounded by the edge count.
    * Returns (v, label_old, label_new, n_links, delta_q) where n_links
    * = k_{i,label_new} and delta_q is the (rounded) winning gain.
    */
  def louvainMoveRound(edges: DataFrame, s1: String, s2: String,
      assign: DataFrame, vCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(s1).as("__a"), col(s2).as("__b"))
      .localCheckpoint(true) // feeds m, adjacency, and degrees
    val m = e.agg(count(lit(1)).as("__m"))
    val lab = assign.select(col(vCol).as("__v"), col(labelCol).as("__c"))
      .localCheckpoint(true) // joined on neighbors, degrees, and sigma
    val adj = e.select(col("__a").as("__v"), col("__b").as("__nb"))
      .unionAll(e.select(col("__b").as("__v"), col("__a").as("__nb")))
    val deg = adj.groupBy(col("__v")).agg(count(lit(1)).as("__k"))
    val sigma = deg.join(lab, Seq("__v")).groupBy(col("__c"))
      .agg(sum(col("__k")).as("__sigma"))
      .select(col("__c").as("__cc"), col("__sigma"))
    val kic = adj
      .join(lab.select(col("__v").as("__nb"), col("__c").as("__cc")),
        Seq("__nb"))
      .groupBy(col("__v"), col("__cc")).agg(count(lit(1)).as("__kic"))
    // candidate set: neighbor communities ∪ own (k_{i,own} may be 0)
    val cand = kic
      .unionByName(lab.select(col("__v"), col("__c").as("__cc"))
        .withColumn("__kic", lit(0L)))
      .groupBy(col("__v"), col("__cc")).agg(max(col("__kic")).as("__kic"))
    val scored = cand
      .join(deg, Seq("__v"))
      .join(lab, Seq("__v")) // __c = i's current community
      .join(sigma, Seq("__cc"))
      .crossJoin(broadcast(m)) // 1-row scalar attach
      .withColumn("__sigmaex", col("__sigma") -
        when(col("__cc") === col("__c"), col("__k")).otherwise(lit(0L)))
      .withColumn("__gain",
        col("__kic").cast("double") / col("__m") -
          (col("__k") * col("__sigmaex")).cast("double") /
            (lit(2.0) * col("__m") * col("__m")))
    val w = Window.partitionBy(col("__v"))
      .orderBy(col("__gain").desc, col("__cc").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__v").as("v"), col("__c").as("label_old"),
        col("__cc").as("label_new"), col("__kic").as("n_links"),
        round(col("__gain") + lit(1e-9), 6).as("delta_q"))
  }
}
