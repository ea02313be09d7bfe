package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * Exact dedup mirrors the reference cleaner's key-based duplicate drop
  * (reference: opensea_pipeline/pipeline/src/clean_events.py:218-231) but with
  * *defined* semantics: Polars `unique(keep="first")` keeps an arbitrary row
  * under parallel execution, so we pin the survivor with an explicit
  * tie-break ordering (SURVEY §7.4 risk 3). Scales as a single hash
  * shuffle on the key columns; no global sort.
  *
  * == Internal materialization and fault tolerance ==
  * Operators here (and in [[Similarity]], [[Stats]]) materialize genuinely
  * multi-consumer intermediates with eager `localCheckpoint(true)`, not
  * `cache()`: checkpoint blocks are GC-released by the ContextCleaner once
  * the frame is unreachable, while CacheManager entries pin memory until
  * an explicit unpersist (the round-4 bench-escalation artifact). The
  * TRADE: `localCheckpoint` truncates lineage, so losing an executor
  * after materialization FAILS the job instead of recomputing the lost
  * partitions — acceptable on a single-node deployment (executor loss =
  * JVM loss = job loss anyway) and for interactive/bench workloads, but a
  * long multi-hour cluster job that must survive preemption should prefer
  * reliable `checkpoint()` onto the cluster checkpoint dir (same call
  * sites, HDFS-backed, loss-tolerant) or recompute-friendly `cache()`
  * with explicit unpersist. The sites are few and named in scaladoc where
  * they occur; swapping the policy is a mechanical change.
  */
object Dedup {

  /** Keep exactly one row per key, the one with the smallest tie-break value.
    * One shuffle on `keys`; window + filter stays inside the same exchange.
    */
  def dropDuplicatesDeterministic(
      df: DataFrame, keys: Seq[String], tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tieBreak)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Duplicate-key audit: keys occurring more than once with their counts
    * (reference: validate.py:67-91). Partial-aggregate friendly.
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_dups"))
      .where(col("n_dups") > 1)

  /** Exact content dedup by normalized-text digest: one row per distinct
    * md5(lower(trim(text))), surviving row = smallest id. This is the
    * "exact (hash-groupBy)" dedup for a training-data pipeline: the digest
    * is 16 bytes regardless of document size, so the shuffle moves hashes,
    * not documents.
    */
  def exactTextDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("content_hash", md5(lower(trim(col(textCol)))))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle set per document, as distinct shingle strings.
    * Used by Jaccard / MinHash dedup. Output: (id, shingle) long form —
    * explode keeps everything distributed (no per-doc collect).
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    // Fan.out: tokenize+md5 is the CPU pole of every shingle consumer —
    // spread a one-row-group input across the cores before paying it.
    Fan.outIfNarrow(df.select(col(idCol), toks.as("toks")))
      .where(size(col("toks")) >= n)
      .select(
        col(idCol),
        explode(
          transform(
            sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))
        ).as("shingle"))
      .distinct()
  }

  /** N-gram Jaccard near-duplicate pairs: candidate pairs share >=1 shingle,
    * similarity = |A∩B| / (|A|+|B|-|A∩B|). The shingle self-join is the
    * scale risk (hot shingles blow up the pair space); `maxShingleFreq`
    * drops shingles occurring in more than that many docs — standard
    * frequent-token pruning, the same move MinHash banding makes implicit.
    */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxShingleFreq: Int = 1000): DataFrame = {
    // Eager localCheckpoint, not cache(): two consumers (freq prune +
    // pruned join) read one materialization, and the blocks are released
    // by the ContextCleaner once the result is dropped — an internal
    // cache() would pin a CacheManager entry until someone unpersists.
    val sh = shingles(df, textCol, idCol, n).localCheckpoint(true)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df_freq"))
      .where(col("df_freq") <= maxShingleFreq)
    val pruned = sh.join(rare, "shingle").select(col(idCol), col("shingle"))
    val sizes = pruned.groupBy(idCol).agg(count(lit(1)).as("set_size"))
    val a = pruned.select(col(idCol).as("id_a"), col("shingle"))
    val b = pruned.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("set_size").as("size_b")), "id_b")
      .withColumn("jaccard",
        col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard") + lit(1e-9), 6).as("jaccard"))
  }

  /** ASYMMETRIC containment pairs: c(A→B) = |A∩B| / |A|. Catches the
    * small-document-inside-big-document cases symmetric Jaccard
    * structurally misses — a quote or boilerplate block fully contained
    * in a 100× larger page scores containment ≈ 1 while its Jaccard is
    * ≈ |A|/|B| ≈ 0.01, far below any dedup threshold. The pair survives
    * when EITHER direction clears `minContainment`. Same inverted-index
    * posting join + hub cap as [[jaccardPairs]] (one shared shingle
    * materialization, never all-pairs).
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int, minContainment: Double,
      maxShingleFreq: Int = 1000): DataFrame = {
    val sh = shingles(df, textCol, idCol, n).localCheckpoint(true)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df_freq"))
      .where(col("df_freq") <= maxShingleFreq)
    val pruned = sh.join(rare, "shingle").select(col(idCol), col("shingle"))
    val sizes = pruned.groupBy(idCol).agg(count(lit(1)).as("set_size"))
    val a = pruned.select(col(idCol).as("id_a"), col("shingle"))
    val b = pruned.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("set_size").as("size_b")), "id_b")
      .withColumn("containment_a", col("n_common") / col("size_a"))
      .withColumn("containment_b", col("n_common") / col("size_b"))
      .where(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("containment_a") + lit(1e-9), 6).as("containment_a"),
        round(col("containment_b") + lit(1e-9), 6).as("containment_b"))
  }

  /** Deterministic 56-bit hash of a string, identical across engines:
    * decimal value of the first 14 hex chars of md5. Used as the shingle
    * hash base for MinHash so the oracle can reproduce it exactly.
    */
  def md5Hash56(c: Column): Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("long")

  /** MinHash permutation parameters over the 31-bit Mersenne field
    * p = 2^31 - 1. The domain matters: with a 56-bit hash domain and
    * small multipliers, a·x + b barely wraps the modulus, so the "hash
    * functions" are order-preserving and every signature component
    * degenerates to the same global-min shingle. In the 31-bit field the
    * large multipliers wrap many times (true mixing) while a·x stays
    * below 2^63 — overflow-free in any 64-bit engine, so the SQL oracle
    * reproduces it exactly.
    */
  val minHashP: Long = 2147483647L // 2^31 - 1, Mersenne prime
  def minHashA(i: Int): Long = (2654435761L * (i + 1)) % minHashP
  def minHashB(i: Int): Long = (40503L * (i + 1)) % minHashP
  private def permuted(h31: Column, i: Int): Column =
    pmod(h31 * lit(minHashA(i)) + lit(minHashB(i)), lit(minHashP))

  /** Shingle HASHES without set-dedup: (id, __h) with
    * h = md5Hash56(shingle) mod p, duplicates retained. MinHash
    * consumers only ever MIN-aggregate over permutations of h, and min
    * is duplicate-insensitive — min over a multiset equals min over its
    * set — so the `distinct()` that [[shingles]] pays (a full shuffle of
    * 3-word shingle STRINGS, the single most expensive stage of the LSH
    * pipeline) is pure waste on this path. Skipping it also keeps every
    * document's shingles in the document's scan partition, so the
    * signature groupBy partial-aggregates map-side and the only shuffle
    * left carries one (id, numHashes longs) row per doc per partition.
    * Use [[shingles]] where true SET semantics matter (Jaccard
    * intersection counts, decontamination overlap).
    */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    // Fan.out before the explode+md5 chain (see [[Fan.out]]): a whole
    // document's shingles still land in one partition, so the signature
    // groupBy keeps its map-side partial aggregation.
    Fan.outIfNarrow(df.select(col(idCol), toks.as("toks")))
      .where(size(col("toks")) >= n)
      .select(
        col(idCol),
        explode(
          transform(
            sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))
        ).as("shingle"))
      .select(col(idCol),
        pmod(md5Hash56(col("shingle")), lit(minHashP)).as("__h"))
  }

  /** MinHash signatures in long form (id, hash_idx, min_hash). */
  def minHashSignatures(
      sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val base = sh.withColumn("h",
      pmod(md5Hash56(col("shingle")), lit(minHashP)))
    val perms = (0 until numHashes).map { i =>
      struct(lit(i).as("hash_idx"), permuted(col("h"), i).as("hv"))
    }
    base
      .select(col(idCol), explode(array(perms: _*)).as("perm"))
      .groupBy(col(idCol), col("perm.hash_idx").as("hash_idx"))
      .agg(min(col("perm.hv")).as("min_hash"))
  }

  /** Full MinHash signature as ONE array column per doc — a single
    * groupBy over the shingle rows with `numHashes` min-aggregates (no
    * explode: the long-form variant shuffles numHashes× the rows for the
    * same information).
    */
  def minHashSignatureArray(
      sh: DataFrame, idCol: String, numHashes: Int): DataFrame =
    minHashSignatureArrayFromHashes(
      sh.select(col(idCol),
        pmod(md5Hash56(col("shingle")), lit(minHashP)).as("__h")),
      idCol, numHashes)

  /** Signature builder over a (id, __h) hash frame — the
    * [[shingleHashes]] fast path (no string-shingle shuffle anywhere in
    * the plan; one partial-aggregated groupBy is the only exchange).
    */
  def minHashSignatureArrayFromHashes(
      hs: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map { i =>
      min(permuted(col("__h"), i)).as(s"__m$i")
    }
    hs.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Per-ROW MinHash signature computed entirely inside projections —
    * no explode, no groupBy, NO SHUFFLE. The shingle hashes become an
    * array column; each signature component is an `array_min` over its
    * permutation of that array, all inside whole-stage codegen. This is
    * the narrow fast path when the signature key IS the row key (one
    * document per row): the aggregate form pays a hash-aggregate probe
    * per (row × shingle) plus an exchange, which profiling shows is the
    * single most expensive stage of the LSH pipeline — here the same
    * arithmetic runs as a tight per-row loop.
    *
    * The two-step projection is deliberate: `__hs` (one md5 per
    * shingle) is built in its own Project, and CollapseProject keeps it
    * there because a non-trivial expression referenced `numHashes`
    * times is not inlined — the md5s are computed once per row, not
    * once per (row × permutation).
    *
    * Identical values to [[minHashSignatureArrayFromHashes]] over
    * [[shingleHashes]] (min over a multiset = min over its set;
    * property-tested): the SQL oracles are unchanged.
    */
  def minHashSignatureArrayInline(df: DataFrame, textCol: String,
      idCol: String, n: Int, numHashes: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val hashes = transform(
      sequence(lit(0), size(col("__toks")) - n),
      i => pmod(md5Hash56(
        concat_ws(" ", slice(col("__toks"), i + 1, lit(n)))), lit(minHashP)))
    Fan.outIfNarrow(df.select(col(idCol), toks.as("__toks")))
      .where(size(col("__toks")) >= n)
      .select(col(idCol), hashes.as("__hs"))
      .select(col(idCol),
        array((0 until numHashes).map(i =>
          array_min(transform(col("__hs"), h => permuted(h, i)))): _*)
          .as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signature (`numHashes` values
    * per doc into bands of `rowsPerBand`), bucket-join on
    * (band, band-signature), verify with the Jaccard estimate = fraction
    * of matching signature components. Only docs sharing a full band
    * collide, so the join is an equi-join on a compact key — the LSH
    * scale path.
    *
    * Band-KEY-only shape (round 7, A/B-measured; README "LSH pair-join
    * shape"): band
    * rows carry only (id, band, band_sig); colliding id pairs are
    * `distinct`'d FIRST, then the materialized signature table joins
    * back once per side for the Jaccard-estimate verify. The round-6
    * signature-carry form (kept as [[minHashLshPairsSigCarry]]) shipped
    * the full `numHashes`-long signature on BOTH sides of the band
    * self-join — ~2·numBands·numHashes longs/doc through the join's
    * shuffle vs ~2·numHashes (bands) + 2·numHashes (two verify joins)
    * here, ~4× the bytes at the default 32/4 config — and measured
    * slower at BOTH scales (sf0.1: 0.99 vs 0.90 s; 10× replicated
    * heavy-collision corpus: 3.82 vs 3.33 s), so the byte ledger, not
    * the job count, decides. The cost here is one eager signature
    * materialization (`localCheckpoint` — see the object scaladoc for
    * the fault-tolerance trade) feeding three consumers.
    */
  def minHashLshPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // three consumers (banding + two verify joins) — materialize once
    val sig = minHashSignatureArrayInline(
      df, textCol, idCol, shingleSize, numHashes).localCheckpoint(true)
    val cand = bandCollisionPairs(sig, idCol, numHashes, rowsPerBand)
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes
    cand
      .join(sig.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"), est.as("__est"))
      .where(col("__est") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("__est") + lit(1e-9), 6).as("est_jaccard"))
  }

  /** The banding stage of [[minHashLshPairs]] in isolation: distinct
    * band-collision candidate pairs from a MATERIALIZED signature frame.
    * band_sig stays an ARRAY<LONG> join key (no cast to string): array
    * equality is the same predicate, without formatting a string per
    * (doc, band) row on both sides of the self-join. Exposed
    * `private[graft]` so tests can check the CANDIDATE count (the number
    * the S-curve actually controls) separately from the verified-pair
    * count.
    */
  private[graft] def bandCollisionPairs(sig: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val banded = sig.select(col(idCol),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .as("band_sig"))): _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.band_sig").as("band_sig"))
    val l = banded.select(col(idCol).as("id_a"), col("band"), col("band_sig"))
    val r = banded.select(col(idCol).as("id_b"), col("band"), col("band_sig"))
    l.join(r, Seq("band", "band_sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** A/B twin of [[minHashLshPairs]]: the round-6 single-pass
    * signature-carry shape — each banded row carries its full signature
    * through the bucket-join and the estimate is computed directly on
    * the join output, so there is no materialization job and no verify
    * join, at the price of ~numBands× the signature bytes on both sides
    * of the self-join's shuffle. Measured SLOWER than the key-join form
    * at sf0.1 and at a 10× heavy-collision corpus (README "LSH pair-join
    * shape") — kept as `LshJoinShapeSpec`'s reference and for corpora
    * where signatures are short relative to collision counts.
    */
  private[graft] def minHashLshPairsSigCarry(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // signatures from the shuffle-free inline path, consumed exactly
    // once (the banding explode below) — no internal materialization
    val sig = minHashSignatureArrayInline(
      df, textCol, idCol, shingleSize, numHashes)
    val numBands = numHashes / rowsPerBand
    val banded = sig.select(col(idCol), col("sig"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .as("band_sig"))): _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band").as("band"),
        col("bb.band_sig").as("band_sig"))
    val l = banded.select(col(idCol).as("id_a"), col("sig").as("sig_a"),
      col("band"), col("band_sig"))
    val r = banded.select(col(idCol).as("id_b"), col("sig").as("sig_b"),
      col("band"), col("band_sig"))
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes
    l.join(r, Seq("band", "band_sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), est.as("__est"))
      .where(col("__est") >= threshold)
      .distinct()
      .select(col("id_a"), col("id_b"),
        round(col("__est") + lit(1e-9), 6).as("est_jaccard"))
  }

  /** Cross-run (incremental) MinHash-LSH: near-dup pairs where at least
    * one side is NEW — the nightly-crawl shape, where re-pairing the
    * historical corpus against itself every run would be O(N²_history)
    * wasted work. Only delta-side bands probe the band index, so the
    * candidate space is O(|delta| · collisions), independent of history
    * size. Here both sides' signatures are computed in-plan for the
    * oracle's sake; in production the history side's (id, sig, bands)
    * frame is persisted state loaded from the previous run (exactly
    * a29's mergeable-state pattern — signatures never change, so state
    * merge is a plain append of the delta's signatures).
    * Pairs are normalized to (least, greatest) so a delta-delta pair
    * found from both sides emits once.
    */
  def minHashLshPairsIncremental(
      df: DataFrame, textCol: String, idCol: String, isDelta: Column,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val deltaIds = df.where(isDelta).select(col(idCol)).distinct()
    val sig = minHashSignatureArrayInline(
      df, textCol, idCol, shingleSize, numHashes)
      .localCheckpoint(true)
    val numBands = numHashes / rowsPerBand
    val banded = sig.select(col(idCol),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .as("band_sig"))): _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.band_sig").as("band_sig"))
    val probe = banded.join(deltaIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("id_p"), col("band"), col("band_sig"))
    val index = banded
      .select(col(idCol).as("id_x"), col("band"), col("band_sig"))
    val cand = probe.join(index, Seq("band", "band_sig"))
      .where(col("id_p") =!= col("id_x"))
      .select(least(col("id_p"), col("id_x")).as("id_a"),
        greatest(col("id_p"), col("id_x")).as("id_b"))
      .distinct()
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes
    cand
      .join(sig.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", est)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard") + lit(1e-9), 6).as("est_jaccard"))
  }

  /** Connected components over a duplicate-pair graph: the final step of
    * every near-dup pipeline (pairs are only evidence; the unit of
    * deduplication is the transitive *cluster*, from which one canonical
    * document survives). Iterative min-label propagation: every node
    * starts labeled with its own id; each round a node takes the min of
    * its label and its neighbors' labels; fixpoint = every node labeled
    * with the smallest id reachable from it.
    *
    * Scale shape: each round is one equi-join (edges ⋈ labels, shuffled
    * on the join key) + one min-aggregate — no adjacency lists collected
    * anywhere, and `localCheckpoint` truncates the growing lineage so
    * round N's plan does not replay rounds 1..N−1. Rounds needed = graph
    * diameter; near-dup clusters are shallow (a handful of hops), so this
    * converges in 2–4 rounds in practice. For adversarially long chain
    * graphs at 100 TB (crawl mirrors), exhausting `maxIters` hands the
    * already-materialized edge frame to
    * [[connectedComponentsStarContraction]] (O(log² n) rounds regardless
    * of diameter) — so the propagation form stays the cheap common case
    * and the pathological case degrades to the scale algorithm instead
    * of a wrong answer. `starFallback = false` restores the loud assert
    * for callers that want the diameter bound enforced.
    *
    * The per-round driver `count()` is the convergence test of an
    * iterative algorithm (same pattern as KMeans), not a hot-path
    * collect: it reads a 1-value aggregate off the just-checkpointed
    * frame.
    *
    * @param nodes one row per vertex (`idCol`); isolated vertices come
    *              out as their own singleton cluster
    * @param pairs undirected edges, one row per pair (`aCol`, `bCol`)
    * @return (idCol, cluster_id) with cluster_id = min reachable id
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20, starFallback: Boolean = true): DataFrame = {
    // Materialize the pair frame BEFORE mirroring it: the two union
    // branches are distinct subtrees to Catalyst (no common-subexpression
    // elimination across a union), so without this checkpoint the whole
    // pair-generation pipeline (LSH banding + verify joins) executes
    // twice in one plan — measured at ~2× the warm cost of t17/t20/t30.
    val p0 = pairs
      .select(col(aCol).as("__src"), col(bCol).as("__dst"))
      .localCheckpoint(true) // pair generation (LSH etc.) runs ONCE
    val edges = p0
      .union(p0.select(col("__dst").as("__src"), col("__src").as("__dst")))
      .distinct()
      .localCheckpoint(true) // ...and the mirrored edge set once, not per round
    // Propagate ONLY over vertices that touch an edge. Dup-pair graphs
    // are sparse — most of the corpus is singleton clusters — so the
    // iterated frames shrink from |corpus| to ~2|pairs| rows; singletons
    // rejoin at the end as their own cluster via coalesce.
    //
    // Round 1 is FOLDED INTO the initialization: against identity labels
    // the neighbor-min join degenerates to a plain groupBy over the edge
    // list (min neighbor id), so the first label assignment costs one
    // aggregate instead of a join + aggregate round through the loop.
    var labels = edges.groupBy(col("__src").as(idCol))
      .agg(min(col("__dst")).as("__nbr_min"))
      .select(col(idCol),
        least(col(idCol), col("__nbr_min")).as("__label"))
      .localCheckpoint(true)
    var changed = 1L
    var iters = 1 // the init above IS propagation round 1
    while (changed > 0 && iters < maxIters) {
      val nbrMin = edges
        .join(labels.select(col(idCol).as("__dst"),
          col("__label").as("__nbr")), "__dst")
        .groupBy(col("__src").as(idCol))
        .agg(min("__nbr").as("__nbr_min"))
      // The convergence test rides the SAME job that materializes the
      // round's labels: an Observation on the checkpoint action replaces
      // the separate count() job — half the driver round-trips per round.
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iters")
      val next = labels.join(nbrMin, Seq(idCol), "left")
        .select(col(idCol),
          least(col("__label"), coalesce(col("__nbr_min"), col("__label")))
            .as("__label"),
          coalesce(col("__nbr_min") < col("__label"), lit(false))
            .as("__changed"))
        .observe(obs, coalesce(sum(when(col("__changed"), 1L)
          .otherwise(0L)), lit(0L)).as("n_changed")) // empty frame → 0, not null
        .localCheckpoint(true)
      changed = obs.get("n_changed").asInstanceOf[Long]
      labels = next.drop("__changed")
      iters += 1
    }
    if (changed != 0L) {
      // The diameter exceeded the bound (adversarial chain graphs —
      // crawl mirrors at corpus scale). Either hand the ALREADY
      // MATERIALIZED edge frame to the O(log² n)-round star contraction,
      // or fail loudly if the caller opted out of the fallback.
      assert(starFallback,
        s"connectedComponents did not converge in $maxIters rounds " +
          "(graph diameter exceeds the bound — raise maxIters or switch " +
          "to star contraction)")
      return starContract(nodes, idCol, p0, "__src", "__dst",
        starMaxIters = 50)
    }
    nodes.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__label"), col(idCol)).as("cluster_id"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the adversarial-diameter escape hatch for
    * [[connectedComponents]]. Label propagation needs diameter-many
    * rounds; contraction converges in O(log² n) rounds regardless of
    * diameter, because each round rewires whole neighborhoods at the
    * neighborhood minimum instead of moving labels one hop:
    *
    *  - large-star: for every node u with m = min(Γ(u) ∪ {u}), every
    *    strictly-larger neighbor v > u re-attaches as (v, m);
    *  - small-star: edges oriented high→low; every node u with smaller
    *    neighborhood N(u) and m = min(N(u)) re-attaches N(u) ∪ {u}
    *    to m.
    *
    * Fixpoint = a forest of stars centered at each component's minimum
    * id, read off as (node → center). Each half-round is one
    * groupBy-min + one equi-join + distinct — the same shuffle building
    * blocks as the propagation loop, with `localCheckpoint` truncating
    * per-round lineage. The convergence probe is two anti-join
    * existence checks (symmetric difference of consecutive edge sets),
    * each a `limit(1)` off the just-checkpointed frame.
    *
    * Same contract as [[connectedComponents]]: returns (idCol,
    * cluster_id = min reachable id), isolated vertices label themselves.
    */
  def connectedComponentsStarContraction(
      nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame =
    // no checkpoint here: the pair frame has exactly one consumer (the
    // distinct+checkpoint at the top of the contraction loop)
    starContract(nodes, idCol,
      pairs.select(col(aCol).as("__src"), col(bCol).as("__dst")),
      "__src", "__dst", maxIters)

  private def starContract(
      nodes: DataFrame, idCol: String,
      p0: DataFrame, aCol: String, bCol: String,
      starMaxIters: Int): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(
        e.select(col("__v").as("__u"), col("__u").as("__v")))
      val m = sym.groupBy(col("__u"))
        .agg(min(col("__v")).as("__mn"))
        .select(col("__u"), least(col("__u"), col("__mn")).as("__m"))
      sym.join(m, "__u")
        .where(col("__v") > col("__u"))
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .where(col("__u") =!= col("__v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("__u"), col("__v")).as("__u"),
        least(col("__u"), col("__v")).as("__v"))
      val m = oriented.groupBy(col("__u"))
        .agg(min(col("__v")).as("__m"))
      oriented.join(m, "__u")
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .union(m.select(col("__u"), col("__m").as("__v")))
        .where(col("__u") =!= col("__v"))
        .distinct()
    }
    // r15 convergence probe (guide §1.2/§2.4 — fewer jobs per round):
    // both frames are DISTINCT sets, so set equality ⟺ equal cardinality
    // ∧ next \ edges = ∅. Cardinalities ride the checkpoint job as an
    // Observation (zero extra jobs — the CC propagation loop's existing
    // pattern), so rounds that changed the edge count pay NO probe job
    // at all, and the fixpoint round pays ONE anti-join limit(1) instead
    // of the former two unconditional ones.
    val obs0 = org.apache.spark.sql.Observation()
    var edges = p0
      .select(col(aCol).as("__u"), col(bCol).as("__v"))
      .where(col("__u") =!= col("__v"))
      .distinct()
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint(true)
    var nEdges = obs0.get("n").asInstanceOf[Long]
    var iters = 0
    var converged = false
    while (!converged && iters < starMaxIters) {
      val obs = org.apache.spark.sql.Observation()
      val next = smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint(true)
      val nNext = obs.get("n").asInstanceOf[Long]
      converged = nNext == nEdges &&
        next.join(edges, Seq("__u", "__v"), "left_anti")
          .limit(1).count() == 0L
      edges = next
      nEdges = nNext
      iters += 1
    }
    assert(converged,
      s"star contraction did not converge in $starMaxIters rounds — " +
        "not expected for any finite graph (O(log^2 n) bound); check " +
        "edge generation for non-determinism")
    // At fixpoint every non-center node appears exactly once as __u with
    // __v = its component's minimum id; min() guards the final read.
    val lab = edges.groupBy(col("__u").as(idCol))
      .agg(min(col("__v")).as("__label"))
    nodes.select(col(idCol))
      .join(lab, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__label"), col(idCol)).as("cluster_id"))
  }

  /** The shared (docs → LSH pairs → transitive clusters) frame: MinHash-
    * LSH candidate pairs verified at `threshold`, closed under
    * transitivity, one row per document with its cluster id. This is THE
    * unit every cluster-aware consumer builds on — duplicate-cluster
    * audits (t17), survivorship policies (t20), leakage-free splits
    * (t30) — factored here so the composition is defined once and a
    * pipeline computing several of those outputs materializes this frame
    * once and fans out, instead of re-running the LSH + CC chain per
    * consumer.
    */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLshPairs(df, textCol, idCol, shingleSize,
      numHashes, rowsPerBand, threshold)
    connectedComponents(df.select(col(idCol)), idCol, pairs, "id_a", "id_b")
  }

  /** SimHash: 56-bit locality-sensitive fingerprint (bits 0–55 of the
    * engine-portable [[md5Hash56]] token hash — 56, not 64, so the value
    * stays positive in a signed long and the SQL oracle can replicate
    * it). For each bit position sum +1/-1 across tokens; sign → bit.
    * Computed with integer column math only (bitwise ops are codegen'd),
    * so the oracle can replicate it. Output: (id, simhash).
    */
  def simHash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("h", md5Hash56(col("tok")))
    val bitVotes = (0 until 56).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(-1)).as(s"b$b")
    }
    val voted = toks.groupBy(col(idCol)).agg(bitVotes.head, bitVotes.tail: _*)
    val fp = (0 until 56).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    voted.select(col(idCol), fp.as("simhash"))
  }

  /** Pigeonhole-blocked SimHash hamming pair search: split the 56-bit
    * fingerprint into `maxHamming + 1` equal blocks — any pair within
    * `maxHamming` differing bits must agree EXACTLY on at least one
    * block (pigeonhole), so candidates come from an equi-join on
    * (block index, block value) with guaranteed recall 1.0, and the
    * hamming verify (`bit_count(xor)`) runs only on collisions. The
    * candidate space is Σ per-block-bucket² — never N². Unlike
    * `minHashLshPairs` (where the r8 A/B promoted the band-KEY-only
    * join because the carried signature is 2·numBands·numHashes longs),
    * here the whole signature IS one long, so carrying it through the
    * join is cheaper than two verify joins back — the same byte ledger,
    * opposite verdict. Output: (id_a, id_b, hamming).
    */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val blocks = maxHamming + 1
    require(56 % blocks == 0,
      s"maxHamming + 1 = $blocks must divide the 56-bit fingerprint")
    val blockBits = 56 / blocks
    val fp = simHash(df, textCol, idCol).localCheckpoint(true)
    val blocked = fp.select(col(idCol), col("simhash"),
        explode(array((0 until blocks).map(b => struct(lit(b).as("blk"),
          shiftright(col("simhash"), b * blockBits)
            .bitwiseAND(lit((1L << blockBits) - 1)).as("bv"))): _*)).as("e"))
      .select(col(idCol), col("simhash"),
        col("e.blk").as("blk"), col("e.bv").as("bv"))
    blocked.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
        col("blk"), col("bv"))
      .join(blocked.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
        col("blk"), col("bv")), Seq("blk", "bv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Content-defined chunking (CDC) + corpus-level chunk dedup audit —
    * the rsync/LBFS/FastCDC family (Muthitacharoen et al., SOSP'01): cut
    * each document at positions where a rolling content hash satisfies a
    * divisor condition, so chunk boundaries SURVIVE insertions and
    * deletions (a fixed-size chunker shifts every boundary after an
    * edit; a content-defined one re-synchronizes within one chunk).
    * Boundary rule here: position i ends a chunk when the 56-bit md5 of
    * the trailing `window`-char gram is ≡ 0 (mod `divisor`) — expected
    * chunk length ≈ `divisor` chars — plus a forced boundary at
    * end-of-doc. md5 over the gram (not a true gear hash) keeps the
    * whole construction engine-portable, so the oracle reproduces every
    * boundary bit-for-bit.
    *
    * Plan: the rolling boundary scan is ONE codegen'd expression per doc
    * ([[graft.expressions.CdcBoundaries]] — bytes materialized once,
    * reused digest, O(total chars) of hash work, embarrassingly
    * parallel, no shuffle) and only BOUNDARY positions ever become
    * rows — the r11 form exploded one row per character and paid
    * ~divisor× the boundary count in row materialization before its
    * post-explode filter (VERDICT r11 #4; the interpreted higher-order
    * `filter` equivalent measured no better, its per-probe
    * slice+hex+conv allocations costing what the explode did).
    * Then a per-doc lag window for chunk starts (partitioned by doc —
    * never global) and ONE corpus-wide chunk-hash aggregate for
    * occurrence counts. Per-doc output: chunk count, total chunked
    * chars, and how many chunks / chars are corpus-duplicated (hash
    * seen in >1 chunk instance) — the dedup-savings ledger.
    * All-integer output → fully hash-oracled.
    *
    * At 100 TB: the boundary scan is scan-shaped (prunes to the text
    * column), the occurrence aggregate shuffles chunk hashes (16-byte
    * keys, not text), and docs shorter than `window` drop out
    * (documented filter).
    */
  def cdcChunkStats(docs: DataFrame, idCol: String, textCol: String,
      window: Int, divisor: Int): DataFrame = {
    require(window >= 4 && divisor >= 2,
      s"need window >= 4, divisor >= 2; got $window, $divisor")
    val base = docs
      .select(col(idCol).as("__id"), trim(col(textCol)).as("__t"))
      .withColumn("__n", length(col("__t")))
      .where(col("__n") >= window)
    // boundary rule identical to the r11 row-per-char form (md5Hash56 of
    // the trailing gram ≡ 0 mod divisor, forced boundary at end-of-doc),
    // so every boundary and therefore every chunk hash is bit-identical
    val bnd = base
      .select(col("__id"), col("__t"), col("__n"),
        explode(graft.expressions.CdcBoundaries.of(
          col("__t"), window, divisor)).as("__i"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__i"))
    val chunks = bnd
      .withColumn("__start",
        coalesce(lag(col("__i"), 1).over(w), lit(0L)) + 1)
      .select(col("__id"),
        (col("__i") - col("__start") + 1).as("__len"),
        md5(col("__t").substr(col("__start").cast("int"),
          (col("__i") - col("__start") + 1).cast("int"))).as("__ch"))
    val occ = chunks.groupBy(col("__ch")).agg(count(lit(1)).as("__occ"))
    chunks.join(occ, "__ch")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__len")).as("total_chars"),
        sum(when(col("__occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("__occ") > 1, col("__len")).otherwise(0L))
          .as("dup_chars"))
  }
}
