package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-window peer/range join (SURVEY §2.6 J11 + §2.7 A24) — the
  * reference's scalability cliff: a Python for-loop over every sale row,
  * re-filtering the full table per row (analyze_peer_effects.py:140-185).
  *
  * Rebuilt as a single join + groupBy. Two forms:
  *  - `windowAgg`: equi-join on the entity key with a range residual —
  *    Catalyst plans a hash/sort-merge join on the key, and the time
  *    predicate is a cheap post-filter. Right when keys are selective
  *    (many entities, short history each).
  *  - `windowAggBucketed`: additionally buckets time so that even a
  *    *keyless* or hot-key range join stays an equi-join: each probe row
  *    joins only the (key, bucket) cells its window can overlap. This is
  *    the 100 TB form — the join key space is (entity × time-bucket), so
  *    no single hash cell holds an entity's full history.
  *
  * Measured crossover (a one-off probe, 2M rows, one key = 30% of
  * volume, local[32]; README "Skew crossover"): bucketed 3.4 s vs plain 16.9 s under the hot key
  * (4.9×) — broadcast/AQE do NOT close the gap (19.9 s), because the
  * win is bucket-level pair pruning + splitting the hot cell, not join
  * strategy — at a ~6% penalty on uniform keys. At 3× the hot volume
  * the plain form's single SMJ cell enters the spilled-match-array
  * regime and degrades from seconds to minutes: default to the
  * bucketed form whenever any key can plausibly be hot.
  */
object PeerEffects {

  /** For each row of `probes` (e.g. each sale): aggregate over all `peers`
    * rows with the same `key` and peer.ts in [probe.ts - windowDays, probe.ts).
    * Left join: probes with an empty window keep n_peers = 0.
    */
  def windowAgg(probes: DataFrame, peers: DataFrame, key: String,
      tsCol: String, valueCol: String, idCol: String,
      windowDays: Int): DataFrame = {
    val p = peers.select(col(key).as("__k"), col(tsCol).as("__pts"),
      col(valueCol).as("__pv"))
    probes
      .join(p,
        col(key) === col("__k") &&
          col("__pts") >= col(tsCol) - expr(s"INTERVAL $windowDays DAYS") &&
          col("__pts") < col(tsCol),
        "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__pv")).as("n_peers"),
        avg(col("__pv")).as("peer_avg"),
        max(col("__pv")).as("peer_max"))
  }

  /** Scale form: join on (key, time_bucket) equi-keys with the range check
    * as residual. Each probe row expands to the ceil(windowDays/bucketDays)+1
    * buckets its lookback window can touch — constant fan-out, and the
    * shuffle key (key, bucket) splits hot entities across cells.
    */
  def windowAggBucketed(probes: DataFrame, peers: DataFrame, key: String,
      tsCol: String, valueCol: String, idCol: String,
      windowDays: Int, bucketDays: Int): DataFrame = {
    val nBuckets = windowDays / bucketDays + 1
    val bucketOf = (c: Column) => floor(unix_micros(c) / (bucketDays * 86400e6))
    val p = peers.select(col(key).as("__k"), bucketOf(col(tsCol)).as("__b"),
      col(tsCol).as("__pts"), col(valueCol).as("__pv"))
    val probeB = probes.withColumn("__b0", bucketOf(col(tsCol)))
      .withColumn("__b", explode(sequence(col("__b0") - nBuckets, col("__b0"))))
    val joined = probeB
      .join(p,
        col(key) === col("__k") && probeB("__b") === p("__b") &&
          col("__pts") >= col(tsCol) - expr(s"INTERVAL $windowDays DAYS") &&
          col("__pts") < col(tsCol),
        "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__pv")).as("n_peers"),
        avg(col("__pv")).as("peer_avg"),
        max(col("__pv")).as("peer_max"))
    joined
  }

  /** All (window_days) parameter combos in ONE plan: the reference
    * re-runs its per-row Python loop once per (K, window) combination
    * (analyze_peer_effects.py main); here the window length becomes a
    * dimension column — each probe row is tried against every window in
    * the same join, and the groupBy key gains `window_days`. One shuffle
    * for the whole parameter sweep.
    */
  def multiWindowAgg(probes: DataFrame, peers: DataFrame, key: String,
      tsCol: String, valueCol: String, idCol: String,
      windowsDays: Seq[Int]): DataFrame = {
    val p = peers.select(col(key).as("__k"), col(tsCol).as("__pts"),
      col(valueCol).as("__pv"))
    probes
      .withColumn("window_days",
        explode(array(windowsDays.map(lit(_)): _*)))
      .join(p,
        col(key) === col("__k") &&
          col("__pts") >= col(tsCol) -
            make_dt_interval(col("window_days")) &&
          col("__pts") < col(tsCol),
        "left")
      .groupBy(col(idCol), col("window_days"))
      .agg(
        count(col("__pv")).as("n_peers"),
        avg(col("__pv")).as("peer_avg"),
        max(col("__pv")).as("peer_max"))
  }

  /** The FULL parameter grid (K × window) in one plan — the reference
    * re-runs its per-row loop once per combination
    * (analyze_peer_effects.py:32,63-64: K ∈ {10,20,50} × window ∈
    * {7,30}); here the expensive work happens ONCE at the widest
    * parameters and every combo is derived from it: join probes to
    * neighbors ranked at max(K), join peers with the max(window) range
    * residual, THEN explode the (k, window_days) grid and filter
    * rank ≤ k ∧ ts-in-window before aggregating per
    * (probe, k, window_days). One neighbor join + one peer join + one
    * aggregation shuffle for all |K|×|windows| combos, instead of a
    * re-scan per combo.
    *
    * `rankedNeighbors` is (query_id, neighbor_id, rank) ranked at
    * max(ks) or deeper — Similarity.bruteForceTopK(For) / lshTopK output.
    * Inner-join semantics: probes with zero peers for a combo simply
    * don't appear in that combo's groups (the n_peers > 0 regression
    * filter downstream makes left-join padding dead weight).
    */
  def neighborGridAgg(probes: DataFrame, rankedNeighbors: DataFrame,
      peers: DataFrame, key: String, tsCol: String, valueCol: String,
      idCol: String, ks: Seq[Int], windowsDays: Seq[Int]): DataFrame = {
    val maxW = windowsDays.max
    val nb = rankedNeighbors.select(col("query_id").as(key),
      col("neighbor_id").as("__nk"), col("rank").as("__rank"))
    val p = peers.select(col(key).as("__pk"), col(tsCol).as("__pts"),
      col(valueCol).as("__pv"))
    val grid = array((for (k <- ks; w <- windowsDays) yield
      struct(lit(k).as("k"), lit(w).as("window_days"))): _*)
    probes
      .join(nb, Seq(key))
      .join(p,
        col("__nk") === col("__pk") &&
          col("__pts") >= col(tsCol) - expr(s"INTERVAL $maxW DAYS") &&
          col("__pts") < col(tsCol))
      .withColumn("__g", explode(grid))
      .where(col("__rank") <= col("__g.k") &&
        col("__pts") >= col(tsCol) - make_dt_interval(col("__g.window_days")))
      .groupBy(col(idCol), col("__g.k").as("k"),
        col("__g.window_days").as("window_days"))
      .agg(
        count(col("__pv")).as("n_peers"),
        avg(col("__pv")).as("peer_avg"),
        max(col("__pv")).as("peer_max"))
  }

  /** Peer join through a neighbor table (the reference's actual shape:
    * peers of a sale = sales of the K visually-nearest tokens). Composes
    * the KNN output (Similarity.bruteForceTopK / lshTopK) with the range
    * join: probe → its neighbors (equi) → neighbor's events in the window
    * (equi + range residual).
    */
  def neighborWindowAgg(probes: DataFrame, neighbors: DataFrame,
      peers: DataFrame, key: String, tsCol: String, valueCol: String,
      idCol: String, windowDays: Int): DataFrame = {
    val nb = neighbors.select(col("query_id").as(key),
      col("neighbor_id").as("__nk"))
    val p = peers.select(col(key).as("__pk"), col(tsCol).as("__pts"),
      col(valueCol).as("__pv"))
    probes
      .join(nb, Seq(key), "left")
      .join(p,
        col("__nk") === col("__pk") &&
          col("__pts") >= col(tsCol) - expr(s"INTERVAL $windowDays DAYS") &&
          col("__pts") < col(tsCol),
        "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__pv")).as("n_peers"),
        avg(col("__pv")).as("peer_avg"),
        max(col("__pv")).as("peer_max"))
  }
}
