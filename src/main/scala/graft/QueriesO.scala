package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef.Q
import graft.operators.{CountMin, HeavyHitters, Multimodal, Similarity,
  SnapshotDiff, Stats, TextAnalysis}

/** Catalog part O (round 8 continuation): vocabulary/OOV coverage,
  * dataset snapshot reconciliation, mergeable heavy hitters, quantile
  * mapping across sources, hard-negative mining, Kaplan-Meier survival,
  * and audio frame energy. Spark-first plans with full DuckDB oracles.
  */
object QueriesO {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // X110 — vocabulary construction + OOV-rate audit: top-V corpus
  // vocabulary (deterministic frequency/lexicographic cut) broadcast
  // back onto the token stream, per-source coverage stats. The
  // tokenizer-coverage gate an LLM corpus runs per source before
  // training. V=15 against the synthetic 31-token vocabulary so both
  // the in-vocab and OOV branches carry real mass.
  val t50 = Q("t50_vocab_oov",
    (s, d) => TextAnalysis.oovByGroup(docs(s, d), "text", "source", 15),
    Some("""WITH tok AS (SELECT source,
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents),
      t AS (SELECT * FROM tok WHERE len(token) > 0),
      cnt AS (SELECT token, count(*) AS n FROM t GROUP BY 1),
      vocab AS (SELECT token FROM cnt ORDER BY n DESC, token LIMIT 15)
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) + 1e-9, 6) AS oov_rate
      FROM t LEFT JOIN vocab v USING (token) GROUP BY 1"""))

  // X111 — snapshot diff: keyed reconciliation of two versions of a
  // per-(user, day) state table, the primitive behind incremental
  // re-runs on versioned sinks. The re-ingest scenario: the initial run
  // missed late-arriving events (odd event ids) and carried rows later
  // retracted (ids divisible by 6), so the corrected version ADDS days
  // the first run never saw, REMOVES days whose only rows were
  // retracted, CHANGES days where the row set shifted, and leaves days
  // whose rows survive both rules UNCHANGED — all four statuses carry
  // real mass at every SF. One full-outer join on the key.
  val o13 = Q("o13_snapshot_diff",
    (s, d) => {
      val e = ev(s, d).where(col("ts").isNotNull)
        .select(to_date(col("ts")).as("dte"), col("user_id"),
          col("event_id"), col("value"))
      def state(f: DataFrame) = f.groupBy(col("user_id"), col("dte"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")) + lit(1e-9), 6).as("sum_value"))
      val oldV = state(e.where(col("event_id") % 2 === 0))
      val newV = state(e.where(col("event_id") % 3 > 0))
      SnapshotDiff.diffCounts(oldV, newV, Seq("user_id", "dte"),
        Seq("n_events", "sum_value"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS DATE) AS dte, user_id, event_id,
          value
        FROM events WHERE ts IS NOT NULL),
      oldv AS (SELECT user_id, dte, count(*) AS n_events,
        round(sum(value) + 1e-9, 6) AS sum_value
        FROM e WHERE event_id % 2 = 0 GROUP BY 1, 2),
      newv AS (SELECT user_id, dte, count(*) AS n_events,
        round(sum(value) + 1e-9, 6) AS sum_value
        FROM e WHERE event_id % 3 > 0 GROUP BY 1, 2),
      j AS (SELECT CASE WHEN o.user_id IS NULL THEN 'added'
          WHEN n.user_id IS NULL THEN 'removed'
          WHEN o.n_events IS NOT DISTINCT FROM n.n_events
            AND o.sum_value IS NOT DISTINCT FROM n.sum_value
            THEN 'unchanged' ELSE 'changed' END AS status
        FROM oldv o FULL OUTER JOIN newv n
          ON o.user_id = n.user_id AND o.dte = n.dte)
      SELECT status, CAST(count(*) AS BIGINT) AS n_keys
      FROM j GROUP BY 1"""))

  // X112 — Misra-Gries mergeable heavy hitters. The catalog pins the
  // deterministic regime (k=64 > the corpus's 31 distinct tokens, so no
  // decrement or prune fires and est == exact EXACTLY — the merge
  // machinery itself is what the hash gate checks); the approximation
  // regime (cardinality >> k, forced decrements, the 2n/(k+1) error
  // bound) is spec-bounded in HeavyHittersSpec — the same oracle/spec
  // split as the HLL sketches (a30). The product side runs the sketch
  // at k=8 (real decrements, bounded counters) as a deployment would.
  val m43 = Q("m43_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val toks = docs(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0).as[String]
      val sketch = HeavyHitters.misraGries(toks, 64)
      toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_n"))
        .join(sketch.select(col("item").as("token"), col("est")), "token")
        .select(col("token"), col("exact_n"), col("est").as("est_n"),
          (col("est") === col("exact_n")).as("est_matches_exact"))
    },
    Some("""WITH tok AS (SELECT
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents),
      t AS (SELECT token FROM tok WHERE len(token) > 0)
      SELECT token, CAST(count(*) AS BIGINT) AS exact_n,
        CAST(count(*) AS BIGINT) AS est_n, TRUE AS est_matches_exact
      FROM t GROUP BY 1"""),
    product = Some((s, d) => {
      import s.implicits._
      val toks = docs(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0).as[String]
      HeavyHitters.misraGries(toks, 8)
        .orderBy(col("est").desc, col("item")).limit(8)
    }))

  // X113 — quantile mapping: every source's n_chars distribution mapped
  // onto src0's scale via interpolated quantile lookup (histogram
  // matching) — how multi-source quality scores are harmonized before a
  // corpus-wide threshold. Rank window partitioned per source; the
  // reference quantile table is ONE broadcast array row.
  private val qmKnots: String =
    (0 to 20).map(j => (j.toDouble / 20).toString).mkString("[", ",", "]")
  val t51 = Q("t51_quantile_map",
    (s, d) => Stats.quantileMap(docs(s, d), "source", "n_chars", "doc_id",
      "src0", 20),
    Some(s"""WITH ref AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
        $qmKnots) AS qs FROM documents WHERE source = 'src0'),
      r AS (SELECT doc_id, source, n_chars, percent_rank() OVER
          (PARTITION BY source ORDER BY n_chars, doc_id) AS pr
        FROM documents),
      b AS (SELECT doc_id, source, n_chars, pr,
        CAST(least(floor(pr * 20), 19) AS INT) AS j FROM r)
      SELECT doc_id, source, n_chars, round(pr + 1e-9, 6) AS pct_rank,
        round(qs[j + 1] + (pr * 20 - j) * (qs[j + 2] - qs[j + 1])
          + 1e-9, 6) AS mapped_score
      FROM b, ref"""))

  // X114 — hard-negative mining: for each anchor embedding, the top-3
  // most cosine-similar vectors with a DIFFERENT label — the
  // contrastive-training pairs an embedding model learns from. Anchor
  // subset broadcast against the corpus (|A|·N pairs, never N²); at
  // corpus scale the same different-label top-k window composes over
  // lshTopKAuto's bucketed candidates.
  val ann8 = Q("ann8_hard_negatives",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb,
        emb.where(pmod(col("vec_id"), lit(7)) === 0).select("vec_id"),
        "vec_id", "embedding", "label", k = 3)
    },
    Some("""WITH pairs AS (SELECT a.vec_id AS anchor_id,
        CAST(a.label AS BIGINT) AS anchor_label, b.vec_id AS neg_id,
        CAST(b.label AS BIGINT) AS neg_label,
        list_cosine_similarity(a.embedding::DOUBLE[],
          b.embedding::DOUBLE[]) AS cosine
        FROM embeddings a, embeddings b
        WHERE a.vec_id % 7 = 0 AND a.label <> b.label),
      r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
        ORDER BY cosine DESC, neg_id) AS hn_rank FROM pairs)
      SELECT anchor_id, anchor_label, neg_id, neg_label, hn_rank,
        round(cosine + 1e-9, 6) AS cosine
      FROM r WHERE hn_rank <= 3"""))

  // X115 — Kaplan-Meier survival over INTER-PURCHASE gaps: each
  // purchase is a subject whose duration runs to the user's next
  // purchase (event) or to the end of the observation window (right-
  // censored — every user's final open gap), so both branches carry
  // real mass at every SF. Repeat-purchase time expressed as a survival
  // curve rather than a31/a28's fixed-horizon rates. One user-keyed
  // window + one groupBy to the duration grid; the cumulative product
  // runs over <= 31 calendar-bounded rows.
  val m44 = Q("m44_kaplan_meier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = ev(s, d)
        .where(col("ts").isNotNull && col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          to_date(col("ts")).as("dte"))
      val end = p.agg(max(col("dte")).as("d_end"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val subj = p.withColumn("nxt", lead(col("dte"), 1).over(w))
        .crossJoin(broadcast(end))
        .select(
          datediff(coalesce(col("nxt"), col("d_end")), col("dte"))
            .cast("long").as("dur"),
          col("nxt").isNotNull.cast("int").as("ev"))
      Stats.kaplanMeier(subj, "dur", "ev")
        .withColumnRenamed("dur", "dur_days")
    },
    Some("""WITH p AS (SELECT user_id, event_id, ts, CAST(ts AS DATE)
          AS dte
        FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'),
      endd AS (SELECT max(dte) AS d_end FROM p),
      s AS (SELECT coalesce(lead(dte) OVER (PARTITION BY user_id
            ORDER BY ts, event_id), (SELECT d_end FROM endd)) - dte
          AS dur,
        CASE WHEN lead(dte) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM p),
      g AS (SELECT dur, CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(ev) AS BIGINT) AS n_events FROM s GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
      k AS (SELECT dur, n_total, n_events, n_total - n_events AS n_censored,
        CAST(n - coalesce(sum(n_total) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS n_at_risk
        FROM g, nn)
      SELECT dur AS dur_days, n_at_risk, n_events, n_censored,
        round(exp(sum(ln(greatest(1.0 - CAST(n_events AS DOUBLE)
            / n_at_risk, 1e-300))) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) + 1e-9, 6)
          AS survival
      FROM k WHERE n_events > 0"""))

  // X116 — audio frame energy: binary payloads interpreted as u8 PCM
  // (stub codec: UTF-8 decode + non-ASCII scrub, code point − 32),
  // windowed RMS + silence flag per 256-sample frame — the VAD-style
  // feature pass of an audio corpus, with bounded per-asset decode and
  // one (asset, frame) aggregate.
  val mm5 = Q("mm5_audio_energy",
    (s, d) => Multimodal.audioFrameEnergy(
      Multimodal.toAssets(docs(s, d), "doc_id", "text", "audio/pcm-u8")),
    Some("""WITH b AS (SELECT doc_id,
        substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 1024) AS sc
        FROM documents),
      f AS (SELECT doc_id, sc FROM b WHERE len(sc) >= 256),
      pos AS (SELECT doc_id, sc,
        unnest(generate_series(1, len(sc))) AS i FROM f),
      sam AS (SELECT doc_id AS asset_id,
        CAST(floor((i - 1) / 256) AS BIGINT) AS frame_idx,
        CAST(ascii(substr(sc, CAST(i AS INT), 1)) - 32 AS DOUBLE) AS amp
        FROM pos)
      SELECT asset_id, frame_idx, CAST(count(*) AS BIGINT) AS n_samples,
        round(sqrt(avg(amp * amp)) + 1e-9, 6) AS rms,
        round(sqrt(avg(amp * amp)) + 1e-9, 6) < 16.0 AS is_silence
      FROM sam GROUP BY 1, 2"""))

  // X117 — count-min sketch: the never-underestimates complement to
  // m43's Misra-Gries. The md5-derived hash rows make every estimate
  // deterministic cross-engine, so the oracle checks the ESTIMATES
  // themselves (overestimate included) — a sketch whose exact behavior
  // is hash-gated, not just bounded. depth 4 × width 64 over the token
  // stream; the probabilistic e/width guarantee is spec-asserted.
  val m45 = Q("m45_count_min",
    (s, d) => {
      val toks = docs(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val sk = CountMin.sketch(toks, "token", depth = 4, width = 64)
      val est = CountMin.estimate(sk, toks, "token", depth = 4, width = 64)
      toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
        .join(est, "token")
        .select(col("token"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overestimate"))
    },
    Some("""WITH tok AS (SELECT
        unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents),
      t AS (SELECT token FROM tok WHERE len(token) > 0),
      b AS (SELECT token, r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR)
          || ':' || token), 1, 14)) AS BIGINT) % 64 AS bucket
        FROM t, range(0, 4) rr(r)),
      cells AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cell_n
        FROM b GROUP BY 1, 2),
      uni AS (SELECT DISTINCT token FROM t),
      probe AS (SELECT u.token, rr.r,
        CAST(('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || u.token),
          1, 14)) AS BIGINT) % 64 AS bucket
        FROM uni u, range(0, 4) rr(r)),
      est AS (SELECT p.token, min(c.cell_n) AS est_n
        FROM probe p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
        GROUP BY 1),
      ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_n
        FROM t GROUP BY 1)
      SELECT ex.token, ex.exact_n, est.est_n,
        est.est_n - ex.exact_n AS overestimate
      FROM ex JOIN est USING (token)"""))

  // X118 — PPMI co-occurrence matrix: skip-gram pairs (window <= 3
  // positions, forward direction) per document, positive pointwise
  // mutual information over the pair counts — the classic
  // word-embedding / collocation-mining preprocessing pass
  // (Levy & Goldberg 2014's PPMI baseline). Positions self-join is
  // doc-keyed (never cross-doc); marginals are token-bounded and ride
  // broadcast joins.
  val t53 = Q("t53_ppmi_cooccurrence",
    (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+"))
            .as(Seq("p", "tok")))
        .where(length(col("tok")) > 0)
      val a = toks.select(col("doc_id"), col("p").as("pa"),
        col("tok").as("tok_a"))
      val b = toks.select(col("doc_id"), col("p").as("pb"),
        col("tok").as("tok_b"))
      val co = a.join(b, Seq("doc_id"))
        .where(col("pb") > col("pa") && col("pb") - col("pa") <= 3)
        .groupBy(col("tok_a"), col("tok_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .localCheckpoint(true)
      val n = co.agg(sum(col("n_pairs")).as("__N"))
      val ra = co.groupBy(col("tok_a")).agg(sum(col("n_pairs")).as("__ra"))
      val cb = co.groupBy(col("tok_b")).agg(sum(col("n_pairs")).as("__cb"))
      co.join(broadcast(ra), "tok_a").join(broadcast(cb), "tok_b")
        .crossJoin(broadcast(n))
        .where(col("n_pairs") >= 5)
        .select(col("tok_a"), col("tok_b"), col("n_pairs"),
          round(greatest(log(col("n_pairs").cast("double") * col("__N") /
            (col("__ra").cast("double") * col("__cb").cast("double"))),
            lit(0.0)) + lit(1e-9), 6)
            .as("ppmi"))
    },
    Some("""WITH d AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      pos AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS p, tk
        FROM d),
      t AS (SELECT doc_id, p, tk[p] AS tok FROM pos
        WHERE len(tk[p]) > 0),
      co AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM t a JOIN t b ON a.doc_id = b.doc_id
          AND b.p > a.p AND b.p - a.p <= 3
        GROUP BY 1, 2),
      n AS (SELECT CAST(sum(n_pairs) AS DOUBLE) AS nn FROM co),
      ra AS (SELECT tok_a, CAST(sum(n_pairs) AS DOUBLE) AS sra
        FROM co GROUP BY 1),
      cb AS (SELECT tok_b, CAST(sum(n_pairs) AS DOUBLE) AS scb
        FROM co GROUP BY 1)
      SELECT co.tok_a, co.tok_b, co.n_pairs,
        round(greatest(ln(co.n_pairs * nn / (sra * scb)), 0.0) + 1e-9, 6)
          AS ppmi
      FROM co JOIN ra USING (tok_a) JOIN cb USING (tok_b)
      CROSS JOIN n
      WHERE co.n_pairs >= 5"""))

  // X119 — perceptual-hash image near-dup: mm3's in-plan 4×4
  // average-pool raster becomes a 16-bit aHash (bit = cell above image
  // mean), and pairs within hamming distance <= 2 are found by t49's
  // pigeonhole block index — any such pair agrees exactly on one of 4
  // 4-bit blocks, so candidates are an equi-join with recall 1.0, never
  // all-pairs. The multimodal dedup row: sketch composition over the
  // decode path, with the same stub-codec/real-plumbing split as mm3.
  /** The mm6 pair pipeline on an arbitrary asset frame. */
  def phashPairs(assets: DataFrame): DataFrame = {
    val ph = Multimodal.aHash16(assets).localCheckpoint(true)
    val blocks = ph.select(col("asset_id"), col("phash"),
      posexplode(array((0 until 4).map(r =>
        pmod(shiftright(col("phash"), 4 * r), lit(16))): _*))
        .as(Seq("r", "blk")))
    val cand = blocks.select(col("asset_id").as("asset_a"),
        col("phash").as("ha"), col("r"), col("blk"))
      .join(blocks.select(col("asset_id").as("asset_b"),
        col("phash").as("hb"), col("r"), col("blk")), Seq("r", "blk"))
      .where(col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b"), col("ha"), col("hb"))
      .distinct()
    cand.select(col("asset_a"), col("asset_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= 2)
  }

  val mm6 = Q("mm6_phash_neardup",
    (s, d) => phashPairs(Multimodal.toAssets(
      docs(s, d).where(length(col("text")) >= 64), "doc_id", "text",
      "image")),
    Some("""WITH a AS (SELECT doc_id AS asset_id, hex(encode(text)) AS h
        FROM documents WHERE length(text) >= 64),
      i AS (SELECT asset_id, h, unnest(generate_series(0, 15)) AS pool_idx
        FROM a),
      p AS (SELECT asset_id, pool_idx,
        (CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2) * 2 + 1, 2) AS INT)
       + CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2 + 1) * 2 + 1, 2) AS INT)
       + CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2 + 8) * 2 + 1, 2) AS INT)
       + CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2 + 9) * 2 + 1, 2) AS INT)
        ) / 4.0 AS pooled
        FROM i),
      phx AS (SELECT asset_id, CAST(sum(bit) AS BIGINT) AS phash FROM
        (SELECT asset_id, pool_idx, CASE WHEN pooled >
            avg(pooled) OVER (PARTITION BY asset_id)
          THEN CAST(power(2, pool_idx) AS BIGINT) ELSE 0 END AS bit
         FROM p) GROUP BY 1),
      blocks AS (SELECT asset_id, phash, r,
        (phash // CAST(power(2, 4 * r) AS BIGINT)) % 16 AS blk
        FROM phx, range(0, 4) rr(r)),
      cand AS (SELECT DISTINCT a.asset_id AS asset_a,
          b.asset_id AS asset_b, a.phash AS ha, b.phash AS hb
        FROM blocks a JOIN blocks b ON a.r = b.r AND a.blk = b.blk
          AND a.asset_id < b.asset_id)
      SELECT asset_a, asset_b,
        CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(ha, hb)) <= 2"""))

  val all: Seq[Q] = Seq(t50, o13, m43, t51, ann8, m44, mm5, m45, t53, mm6)
}
