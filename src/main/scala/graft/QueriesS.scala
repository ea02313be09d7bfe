package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef.Q
import graft.operators.{Privacy, Similarity, Stats, TextAnalysis,
  ThetaSketch}

/** Catalog part S (round 10): capabilities the §2.12 surface still
  * lacked a first-class form of — mergeable distinct sketches with SET
  * INTERSECTION (KMV/theta; HLL can't intersect), cross-document
  * duplicated-span scrubbing and corpus-level segment dedup (the two
  * ExactSubstr-family passes between doc-level dedup and chunking),
  * the graph neighborhood function, and a k-anonymity governance
  * audit. Spark-first plans; deterministic surfaces fully hash-oracled.
  */
object QueriesS {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  // M50 — KMV/theta distinct sketches with set algebra (Beyer et al.,
  // SIGMOD'07): per-event-type 64-minimum-values sketches of the
  // distinct-user space, then UNION and INTERSECTION estimates for the
  // click/purchase pair — the audience-overlap question HLL sketches
  // (a30's family) structurally cannot answer. The md5 hash makes every
  // estimate deterministic, so this entire surface is hash-oracled (the
  // DuckDB oracle recomputes sketches, thresholds, and estimates
  // bit-for-bit); exact counts ride the same rows so the estimator's
  // accuracy is legible on the record. The sketch build is ONE
  // map-combinable custom aggregate (KmvAgg — each partition forwards at
  // most k longs per group; bit-equal to the windowed builtin build, the
  // spec pins it); sketches are 64 longs per segment — at 100 TB they
  // broadcast, merge, and intersect without ever rescanning the facts.
  val m50 = Q("m50_kmv_theta",
    (s, d) => {
      val k = 64
      val e = ev(s, d)
      // 3 consumers (per-type rows + both halves of the pair algebra)
      val sk = ThetaSketch.kmvSketchAgg(e, "event_type", "user_id", k)
        .localCheckpoint(true)
      val exact = e.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val perType = sk.join(exact, "event_type")
        .select(col("event_type").as("set_name"), col("n_exact"),
          round(ThetaSketch.estimate(col("kmv"), k) + lit(1e-9), 6)
            .as("kmv_est"))
      // the click/purchase pair: two PROVABLY-scalar sketch frames
      // (ungrouped max over the one matching group row), so the
      // cross-join audit sees 1-row aggregate builds, not opaque filters
      val a = sk.where(col("event_type") === "click")
        .agg(max(col("kmv")).as("ka"))
      val b = sk.where(col("event_type") === "purchase")
        .agg(max(col("kmv")).as("kb"))
      val pair = a.crossJoin(b) // 1 row x 1 row
      val both = e.where(col("event_type").isin("click", "purchase"))
      val exU = both.agg(countDistinct(col("user_id")).as("n_exact"))
      val exI = both.groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("__nt"))
        .where(col("__nt") === 2)
        .agg(count(lit(1)).as("n_exact"))
      val uRow = pair.crossJoin(exU).select(
        lit("union:click+purchase").as("set_name"), col("n_exact"),
        round(ThetaSketch.estimate(
          ThetaSketch.unionSketch(col("ka"), col("kb"), k), k) + lit(1e-9),
          6).as("kmv_est"))
      val iRow = pair.crossJoin(exI).select(
        lit("intersect:click+purchase").as("set_name"), col("n_exact"),
        round(ThetaSketch.intersectEstimate(col("ka"), col("kb"), k)
          + lit(1e-9), 6).as("kmv_est"))
      perType.unionByName(uRow).unionByName(iRow)
    },
    Some("""WITH h AS (SELECT DISTINCT event_type,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
          AS BIGINT) AS h
        FROM events),
      km AS (SELECT event_type, h,
        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h),
      sk AS (SELECT event_type, list(h ORDER BY h) AS kmv,
        count(*) AS sz
        FROM km WHERE rn <= 64 GROUP BY 1),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1),
      per AS (SELECT s.event_type AS set_name, e.n_exact,
        round((CASE WHEN s.sz < 64 THEN s.sz::DOUBLE
          ELSE 63.0 * power(2, 56) / s.kmv[64] END) + 1e-9, 6) AS kmv_est
        FROM sk s JOIN ex e ON s.event_type = e.event_type),
      mrg AS (SELECT DISTINCT unnest(kmv) AS h FROM sk
        WHERE event_type IN ('click', 'purchase')),
      ukm AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM mrg),
      usk AS (SELECT list(h ORDER BY h) AS kmv, count(*) AS sz
        FROM ukm WHERE rn <= 64),
      exu AS (SELECT count(DISTINCT user_id) AS n_exact FROM events
        WHERE event_type IN ('click', 'purchase')),
      exi AS (SELECT count(*) AS n_exact FROM (
        SELECT user_id FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1 HAVING count(DISTINCT event_type) = 2)),
      ta AS (SELECT CASE WHEN sz < 64 THEN power(2, 56)
          ELSE kmv[64]::DOUBLE END AS th, kmv
        FROM sk WHERE event_type = 'click'),
      tb AS (SELECT CASE WHEN sz < 64 THEN power(2, 56)
          ELSE kmv[64]::DOUBLE END AS th, kmv
        FROM sk WHERE event_type = 'purchase'),
      th AS (SELECT least(ta.th, tb.th) AS theta FROM ta, tb),
      com AS (SELECT count(*) AS c FROM
        (SELECT unnest(kmv) AS h FROM ta) a
        JOIN (SELECT unnest(kmv) AS h FROM tb) b USING (h), th
        WHERE a.h::DOUBLE < th.theta),
      urow AS (SELECT 'union:click+purchase' AS set_name, exu.n_exact,
        round((CASE WHEN usk.sz < 64 THEN usk.sz::DOUBLE
          ELSE 63.0 * power(2, 56) / usk.kmv[64] END) + 1e-9, 6) AS kmv_est
        FROM usk, exu),
      irow AS (SELECT 'intersect:click+purchase' AS set_name, exi.n_exact,
        round(com.c::DOUBLE * power(2, 56) / th.theta + 1e-9, 6) AS kmv_est
        FROM com, th, exi)
      SELECT * FROM per
      UNION ALL SELECT * FROM urow
      UNION ALL SELECT * FROM irow"""))

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // T59 — ExactSubstr cross-document span scrub (Lee et al.,
  // arXiv:2107.06499): a 4-token window occurring in >= 2 distinct
  // documents survives only in the lowest doc id; every occurrence in a
  // higher doc is cut and the doc re-joined around the holes. The
  // within-doc repeats are t42's separate pass, so the two compose as a
  // corpus pipeline's paired scrub stages. Deterministic end-to-end
  // (position-exact survivorship, md5 of the rebuilt text), so the whole
  // surface is hash-oracled. One gram aggregate + one occurrence join,
  // both keyed on the gram; the scrub itself anti-joins on
  // (doc, position) — per-doc parallel at crawl scale.
  val t59 = Q("t59_crossdoc_span_scrub",
    (s, d) => TextAnalysis.crossDocSpanScrub(docs(s, d), "doc_id", "text",
      k = 4),
    Some("""WITH base AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
        FROM base, unnest(generate_series(1, len(tk))) AS g(i)),
      grams AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
          tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS g
        FROM base, unnest(generate_series(1, len(tk) - 3)) AS gs(i)),
      fd AS (SELECT g, min(doc_id) AS first_doc,
          count(DISTINCT doc_id) AS nd
        FROM grams GROUP BY 1),
      rep AS (SELECT gr.doc_id, gr.p FROM grams gr JOIN fd USING (g)
        WHERE nd >= 2 AND gr.doc_id > first_doc),
      cov AS (SELECT DISTINCT doc_id, p + d AS p
        FROM rep, unnest(generate_series(0, 3)) AS gd(d)),
      kept AS (SELECT doc_id, p, tok FROM toks t
        WHERE NOT EXISTS (SELECT 1 FROM cov c
          WHERE c.doc_id = t.doc_id AND c.p = t.p)),
      ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_md5
        FROM kept GROUP BY 1)
      SELECT b.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(cleaned_md5, md5('')) AS cleaned_md5
      FROM base b LEFT JOIN ka USING (doc_id)"""))

  // T60 — segment-level corpus dedup with reconstruction (the C4
  // "duplicated line removal" pass, arXiv:1910.10683 §2.2, over aligned
  // 5-token blocks since the fixture has no newlines): a block's text
  // survives only at its globally-first (doc, block) occurrence —
  // including repeats inside one doc — and each doc is rebuilt from its
  // surviving blocks in order. Complements t59: aligned blocks + global
  // keep-first vs sliding windows + keep-lowest-doc. Deterministic
  // end-to-end, hash-oracled. Survivorship is one map-combinable
  // min(struct) aggregate + equi-join on the segment — no corpus-wide
  // window anywhere, so no single-reducer stage at any scale.
  val t60 = Q("t60_segment_dedup",
    (s, d) => TextAnalysis.segmentDedup(docs(s, d), "doc_id", "text",
      segTokens = 5),
    Some("""WITH base AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
        FROM base, unnest(generate_series(1, len(tk))) AS g(i)),
      segs AS (SELECT doc_id, (p-1)//5 AS sidx,
          string_agg(tok, ' ' ORDER BY p) AS seg
        FROM toks GROUP BY 1, 2),
      surv AS (SELECT doc_id, sidx, seg,
          row_number() OVER (PARTITION BY seg ORDER BY doc_id, sidx) AS rn
        FROM segs),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
        FROM segs GROUP BY 1),
      ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(seg, ' ' ORDER BY sidx)) AS cleaned_md5
        FROM surv WHERE rn = 1 GROUP BY 1)
      SELECT c.doc_id, n_segments,
        CAST(n_segments - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(cleaned_md5, md5('')) AS cleaned_md5
      FROM cnt c LEFT JOIN ka USING (doc_id)"""))

  // G8 — neighborhood function via ANF sketches (Palmer et al., KDD'02;
  // HyperANF, WWW'11) over the STRONG-TIE customer↔supplier graph (g1's
  // edge set restricted to near-full-quantity lineitems, symmetrized —
  // the full bipartite graph saturates by hop 2, which is both a
  // degenerate reach curve and a quadratic exact side; thresholding
  // keeps a real expansion curve at every fixture scale): every node iterates a 16-minimum-values KMV
  // register of its reachable set — per-round state is 16 longs per
  // node, the construction that makes effective-diameter / reach-curve
  // questions answerable at 100 TB where exact reach sets are quadratic.
  // Exact seeded BFS (customers 1-30) rides the same pass as ground
  // truth. KMV union is EXACT, so the iterated sketch equals the KMV of
  // the true reach set — with the md5 hash that makes even the ESTIMATES
  // hash-oracled (DuckDB recomputes them from unrolled BFS closures);
  // n_reach carries the exact side on the same rows, so estimator error
  // is legible on the record with no tolerance gate anywhere.
  val g8 = Q("g8_neighborhood_function",
    (s, d) => {
      val edges = Tables.orders(s, d)
        .join(Tables.lineitem(s, d).where(col("l_quantity") >= 48),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (-(col("l_suppkey") + 1)).as("dst"))
      val nodes = Tables.customer(s, d).select(col("c_custkey").as("id"))
        .union(Tables.supplier(s, d).select((-(col("s_suppkey") + 1)).as("id")))
      graft.operators.Graph.neighborhoodFunction(nodes, "id",
        edges, "src", "dst", seeds = col("id").between(1, 30),
        maxHops = 3, k = 16)
    },
    Some("""WITH e0 AS (SELECT DISTINCT o_custkey AS s, -(l_suppkey + 1) AS d
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_quantity >= 48),
      sym AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
      r0 AS (SELECT c_custkey AS v, c_custkey AS u FROM customer
        WHERE c_custkey BETWEEN 1 AND 30),
      r1 AS (SELECT v, u FROM r0
        UNION SELECT r0.v, sym.d FROM r0 JOIN sym ON r0.u = sym.s),
      r2 AS (SELECT v, u FROM r1
        UNION SELECT r1.v, sym.d FROM r1 JOIN sym ON r1.u = sym.s),
      r3 AS (SELECT v, u FROM r2
        UNION SELECT r2.v, sym.d FROM r2 JOIN sym ON r2.u = sym.s),
      q1 AS (SELECT DISTINCT v,
        CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 14)) AS BIGINT) AS h
        FROM r1),
      q2 AS (SELECT DISTINCT v,
        CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 14)) AS BIGINT) AS h
        FROM r2),
      q3 AS (SELECT DISTINCT v,
        CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 14)) AS BIGINT) AS h
        FROM r3),
      s1 AS (SELECT v, h, row_number() OVER (PARTITION BY v ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY v) AS sz FROM q1),
      s2 AS (SELECT v, h, row_number() OVER (PARTITION BY v ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY v) AS sz FROM q2),
      s3 AS (SELECT v, h, row_number() OVER (PARTITION BY v ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY v) AS sz FROM q3),
      e1 AS (SELECT v, CASE WHEN max(sz) < 16 THEN max(sz)::DOUBLE
          ELSE 15.0 * power(2, 56) / max(CASE WHEN rn = 16 THEN h END) END
          AS est FROM s1 GROUP BY v),
      e2 AS (SELECT v, CASE WHEN max(sz) < 16 THEN max(sz)::DOUBLE
          ELSE 15.0 * power(2, 56) / max(CASE WHEN rn = 16 THEN h END) END
          AS est FROM s2 GROUP BY v),
      e3 AS (SELECT v, CASE WHEN max(sz) < 16 THEN max(sz)::DOUBLE
          ELSE 15.0 * power(2, 56) / max(CASE WHEN rn = 16 THEN h END) END
          AS est FROM s3 GROUP BY v),
      h1 AS (SELECT v, CAST(count(*) AS BIGINT) AS n_reach FROM r1 GROUP BY 1),
      h2 AS (SELECT v, CAST(count(*) AS BIGINT) AS n_reach FROM r2 GROUP BY 1),
      h3 AS (SELECT v, CAST(count(*) AS BIGINT) AS n_reach FROM r3 GROUP BY 1)
      SELECT h1.v AS id, 1 AS hop, n_reach,
        round(e1.est + 1e-9, 6) AS anf_est FROM h1 JOIN e1 USING (v)
      UNION ALL SELECT h2.v, 2, n_reach, round(e2.est + 1e-9, 6)
        FROM h2 JOIN e2 USING (v)
      UNION ALL SELECT h3.v, 3, n_reach, round(e3.est + 1e-9, 6)
        FROM h3 JOIN e3 USING (v)"""))

  // V12 — k-anonymity / l-diversity release audit with a generalization
  // ladder (Sweeney IJUFKS'02; Machanavajjhala ICDE'06): equivalence
  // classes over the (nation, segment) quasi-identifiers, account-band
  // sensitive attribute, k=10 / l=3 gates, and per class the FINEST rung
  // of nation→region→segment-only generalization at which it reaches k.
  // Every stage is a map-combinable grouped aggregate (one shuffle per
  // rung; coarser rungs are tiny and broadcast back) — a one-pass audit
  // at any table size. Fully deterministic, hash-oracled.
  val v12 = Q("v12_k_anonymity",
    (s, d) => {
      val c = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n_regionkey"), floor(col("c_acctbal") / 2500).as("__sens"))
      val audit = Privacy.kAnonymityAudit(c,
        Seq("c_nationkey", "c_mktsegment"), col("__sens"), k = 10, l = 3)
      val ladder = Privacy.generalizationLadder(c,
        Seq(Seq("c_nationkey", "c_mktsegment"),
          Seq("n_regionkey", "c_mktsegment"),
          Seq("c_mktsegment")), k = 10)
      audit.join(
        ladder.select(col("c_nationkey"), col("c_mktsegment"),
          col("chosen_rung")),
        Seq("c_nationkey", "c_mktsegment"))
    },
    Some("""WITH c AS (SELECT c_nationkey, c_mktsegment, n_regionkey,
        floor(c_acctbal / 2500) AS sens
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      cls AS (SELECT c_nationkey, c_mktsegment,
          CAST(count(*) AS BIGINT) AS class_size,
          CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct,
          min(n_regionkey) AS n_regionkey
        FROM c GROUP BY 1, 2),
      r1 AS (SELECT n_regionkey, c_mktsegment, count(*) AS sz1
        FROM c GROUP BY 1, 2),
      r2 AS (SELECT c_mktsegment, count(*) AS sz2 FROM c GROUP BY 1)
      SELECT cls.c_nationkey, cls.c_mktsegment, class_size, l_distinct,
        class_size >= 10 AS k_anonymous, l_distinct >= 3 AS l_diverse,
        CASE WHEN class_size >= 10 THEN 0
             WHEN sz1 >= 10 THEN 1
             WHEN sz2 >= 10 THEN 2
             ELSE -1 END AS chosen_rung
      FROM cls JOIN r1 USING (n_regionkey, c_mktsegment)
        JOIN r2 USING (c_mktsegment)"""))

  // T61 — bigram-LM fluency scoring (the CCNet LM-quality axis,
  // arXiv:1911.00359, in engine-native add-one-smoothed bigram form):
  // corpus-trained conditional bigram counts score every doc by mean
  // bigram negative log-likelihood — the absolute-fluency complement to
  // t58's target-fit ranking (DSIR). Deterministic integer counts + one
  // float expression per bigram → fully hash-oracled. Four
  // map-combinable shuffles; the scoring join reuses the count
  // aggregate's (prev, tok) exchange; LM frame is vocab²-bounded (the
  // t58b hashed-bucket move bounds it further at crawl scale).
  val t61 = Q("t61_bigram_lm_score",
    (s, d) => TextAnalysis.bigramLmScore(docs(s, d), "text", "doc_id"),
    Some("""WITH base AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
        FROM base, unnest(generate_series(1, len(tk))) AS g(i)),
      bi AS (SELECT doc_id, prev, tok FROM (SELECT doc_id,
          lag(tok) OVER (PARTITION BY doc_id ORDER BY p) AS prev, tok
        FROM toks) WHERE prev IS NOT NULL),
      pc AS (SELECT prev, tok, count(*) AS c_pair FROM bi GROUP BY 1, 2),
      uc AS (SELECT tok AS prev, count(*) AS c_uni FROM toks GROUP BY 1),
      vv AS (SELECT count(DISTINCT tok) AS v FROM toks)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(avg(-ln((c_pair + 1.0) / (c_uni + v))) + 1e-9, 6) AS nll
      FROM bi JOIN pc USING (prev, tok) JOIN uc USING (prev), vv
      GROUP BY 1"""))

  // ST6 — daily distinct-user KMV sketches as a STREAMING aggregation
  // surface: kmvSketchAgg is a plain groupBy over a custom
  // TypedImperativeAggregate, so the SAME call runs unchanged as a
  // Structured Streaming aggregation — the custom-expression extension
  // of st5's "mergeable state is stream-ready" claim (the state store
  // persists the serialized KMV buffer; merge is the aggregate's own).
  // This batch twin is fully hash-oracled (m50's determinism argument);
  // StreamingSpec proves AvailableNow sketches ≡ these batch sketches
  // bit-for-bit. k=32 on daily uniques ≈ 500-1500 keeps the estimator
  // at capacity, so the estimate column exercises the (k-1)/θ path.
  val st6 = Q("st6_kmv_daily_batch",
    (s, d) => {
      val k = 32
      val daily = ev(s, d)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(to_date(col("ts")).as("event_date"), col("user_id"))
      val sk = ThetaSketch.kmvSketchAgg(daily, "event_date", "user_id", k)
      val exact = daily.groupBy(col("event_date"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      sk.join(exact, "event_date")
        .select(col("event_date"), col("n_exact"),
          round(ThetaSketch.estimate(col("kmv"), k) + lit(1e-9), 6)
            .as("kmv_est"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS DATE) AS event_date, user_id
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      h AS (SELECT DISTINCT event_date,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
          AS BIGINT) AS h
        FROM e),
      km AS (SELECT event_date, h,
        row_number() OVER (PARTITION BY event_date ORDER BY h) AS rn
        FROM h),
      sk AS (SELECT event_date, max(CASE WHEN rn = 32 THEN h END) AS h32,
          count(*) AS sz
        FROM km WHERE rn <= 32 GROUP BY 1),
      ex AS (SELECT event_date, count(DISTINCT user_id) AS n_exact
        FROM e GROUP BY 1)
      SELECT s.event_date, n_exact,
        round((CASE WHEN sz < 32 THEN sz::DOUBLE
          ELSE 31.0 * power(2, 56) / h32 END) + 1e-9, 6) AS kmv_est
      FROM sk s JOIN ex USING (event_date)"""))

  // ANN9 — product quantization with ADC + exact rerank (Jégou et al.,
  // TPAMI'11), driver-gated as a RECALL AUDIT in ann1's shape: 16
  // subspaces × 4 dims × 16 centroids store each vector as 16 codes
  // (8 bytes — the 32× memory tier below ann4's int8, the form a 100 TB
  // embedding corpus serves from), queries scan the compressed corpus
  // via broadcast lookup tables, shortlist 100, exact rerank to top-5.
  // Codebooks are init-dependent (spark.ml k-means), so the PQ side
  // reduces to the recall boolean while the exact side carries the hash
  // check. Codebooks train in ONE all-subspaces Lloyd loop with
  // deterministic hash-ordered init (so recall is a FIXED number per
  // corpus, not a seed lottery): measured recall@5 0.972 / 0.988 /
  // 0.896 at sf0.001/0.01/0.1 (floor `Ann9RecallFloor`; an m=8/L=50
  // config measured 0.50 at sf0.1 — the gate runs the index where
  // weakly-separated neighbors make it hardest). Queries = every 10th
  // vector so the audit's exact Q×N side stays a bounded fraction of the
  // N² loop j12 already carries.
  /** ann9's recall@5 floor: min across fixtures minus margin;
    * `RecallGateSpec` holds every fixture 0.02 above it.
    */
  val Ann9RecallFloor = 0.85

  /** ann9's two top-5 sides for every 10th vector, both as
    * (query_id, neighbor_id): the exact one (checkpointed) and the PQ one
    * whose share of it is the gated recall.
    */
  def ann9Sides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val pred = pmod(col("vec_id"), lit(10)) === 0
    val exact = Similarity.bruteForceTopKFor(emb,
        emb.where(pred).select(col("vec_id")), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", pred,
        k = 5, m = 16, ksub = 16, shortlist = 100,
        dim = Tables.embeddingDim, seed = 7L)
      .select(col("query_id"), col("neighbor_id"))
    (exact, pq)
  }

  val ann9 = Q("ann9_pq_topk",
    (s, d) => {
      val (exact, pq) = ann9Sides(s, d)
      val hits = exact.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("__hits"))
      exact.agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        .crossJoin(hits)
        .select(col("n_queries"), col("n_exact"),
          (col("__hits").cast("double") / col("n_exact") >= Ann9RecallFloor)
            .as("recall_ok"))
    },
    Some("""SELECT count(*) AS n_queries, 5 * count(*) AS n_exact,
      true AS recall_ok FROM embeddings WHERE vec_id % 10 = 0"""),
    product = Some((s, d) => Similarity.pqTopK(Tables.embeddings(s, d),
      "vec_id", "embedding", pmod(col("vec_id"), lit(10)) === 0,
      k = 5, m = 16, ksub = 16, shortlist = 100,
      dim = Tables.embeddingDim, seed = 7L)))

  // T62 — the two scrub passes COMPOSED as one corpus stage: cross-doc
  // ExactSubstr scrub (t59's pass, text-returning form) feeding
  // segment-level dedup (t60's pass) — the order a production pipeline
  // runs them (span scrub first: segment dedup on unscrubbed text would
  // split spans across block boundaries and miss them). Proves the
  // operators chain through their text-returning forms with no
  // driver-side glue; fully hash-oracled by nesting the two CTE
  // pipelines. Docs scrubbed to empty drop out (no segments), visible
  // as fewer rows than t60 alone.
  val t62 = Q("t62_scrub_pipeline",
    (s, d) => TextAnalysis.segmentDedup(
      TextAnalysis.crossDocSpanScrubText(docs(s, d), "doc_id", "text",
        k = 4).withColumnRenamed("cleaned_text", "text"),
      "doc_id", "text", segTokens = 5),
    Some("""WITH base AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
        FROM base, unnest(generate_series(1, len(tk))) AS g(i)),
      grams AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
          tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS g
        FROM base, unnest(generate_series(1, len(tk) - 3)) AS gs(i)),
      fd AS (SELECT g, min(doc_id) AS first_doc,
          count(DISTINCT doc_id) AS nd
        FROM grams GROUP BY 1),
      rep AS (SELECT gr.doc_id, gr.p FROM grams gr JOIN fd USING (g)
        WHERE nd >= 2 AND gr.doc_id > first_doc),
      cov AS (SELECT DISTINCT doc_id, p + dd AS p
        FROM rep, unnest(generate_series(0, 3)) AS gd(dd)),
      kept AS (SELECT doc_id, p, tok FROM toks t
        WHERE NOT EXISTS (SELECT 1 FROM cov c
          WHERE c.doc_id = t.doc_id AND c.p = t.p)),
      scrubbed AS (SELECT doc_id,
          string_split_regex(string_agg(tok, ' ' ORDER BY p), '\s+') AS tk
        FROM kept GROUP BY 1),
      toks2 AS (SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
        FROM scrubbed, unnest(generate_series(1, len(tk))) AS g(i)),
      segs AS (SELECT doc_id, (p-1)//5 AS sidx,
          string_agg(tok, ' ' ORDER BY p) AS seg
        FROM toks2 GROUP BY 1, 2),
      surv AS (SELECT doc_id, sidx, seg,
          row_number() OVER (PARTITION BY seg ORDER BY doc_id, sidx) AS rn
        FROM segs),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
        FROM segs GROUP BY 1),
      ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(seg, ' ' ORDER BY sidx)) AS cleaned_md5
        FROM surv WHERE rn = 1 GROUP BY 1)
      SELECT c.doc_id, n_segments,
        CAST(n_segments - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(cleaned_md5, md5('')) AS cleaned_md5
      FROM cnt c LEFT JOIN ka USING (doc_id)"""))

  // M51 — Mann-Whitney U rank-sum (nonparametric two-sample location,
  // click vs purchase values): midranks computed on the DISTINCT-value
  // frame via the range-partitioned prefix sum (m22's scale path — no
  // corpus-wide window), rank arithmetic kept integral (2·R_A), so the
  // statistic is bit-exact cross-engine and hash-oracled; the α=0.05
  // decision brackets |z| against the literal normal critical value
  // (m4b's decision-oracle pattern — no CDF needed in either engine).
  val m51 = Q("m51_mann_whitney",
    (s, d) => Stats.mannWhitney(
      ev(s, d).where(col("event_type").isin("click", "purchase")),
      "value", col("event_type") === "click"),
    Some("""WITH e AS (SELECT value, event_type = 'click' AS a
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
      dv AS (SELECT value,
          sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
          sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb
        FROM e GROUP BY 1),
      pr AS (SELECT na, nb, na + nb AS t,
          sum(na + nb) OVER (ORDER BY value) AS ct FROM dv),
      ag AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
          CAST(sum(nb) AS BIGINT) AS n_b,
          CAST(sum(na * (2*(ct - t) + t + 1)) AS BIGINT) AS r2_a,
          CAST(sum(t*t*t - t) AS BIGINT) AS ties
        FROM pr),
      st AS (SELECT n_a, n_b, r2_a,
          (r2_a - n_a*(n_a+1)) / 2.0 AS u_a,
          n_a * n_b / 2.0 AS mu,
          n_a * n_b / 12.0 * ((n_a + n_b + 1)
            - ties / ((n_a + n_b) * (n_a + n_b - 1.0))) AS sig2
        FROM ag)
      SELECT n_a, n_b, r2_a, round(u_a + 1e-9, 6) AS u_a,
        round((u_a - mu) / sqrt(sig2) + 1e-9, 6) AS z,
        abs((u_a - mu) / sqrt(sig2)) > 1.959964 AS reject_h0
      FROM st"""))

  // T63 — boilerplate-segment removal (C4's other line policy: text
  // seen across >= 3 distinct docs is boilerplate and is removed
  // EVERYWHERE, first copy included — the contrast with t60's
  // keep-first dedup). One distinct-doc-frequency aggregate keyed on
  // the segment + an anti-join on the same key; per-doc rebuild.
  // Deterministic, hash-oracled at both fixture scales.
  val t63 = Q("t63_boilerplate_filter",
    (s, d) => TextAnalysis.boilerplateSegmentFilter(docs(s, d), "doc_id",
      "text", segTokens = 3, minDocFreq = 3),
    Some("""WITH base AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
        FROM base, unnest(generate_series(1, len(tk))) AS g(i)),
      segs AS (SELECT doc_id, (p-1)//3 AS sidx,
          string_agg(tok, ' ' ORDER BY p) AS seg
        FROM toks GROUP BY 1, 2),
      hot AS (SELECT seg FROM segs GROUP BY 1
        HAVING count(DISTINCT doc_id) >= 3),
      kept AS (SELECT doc_id, sidx, seg FROM segs
        WHERE seg NOT IN (SELECT seg FROM hot)),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
        FROM segs GROUP BY 1),
      ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(seg, ' ' ORDER BY sidx)) AS cleaned_md5
        FROM kept GROUP BY 1)
      SELECT c.doc_id, n_segments,
        CAST(n_segments - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(cleaned_md5, md5('')) AS cleaned_md5
      FROM cnt c LEFT JOIN ka USING (doc_id)"""))

  // M52 — Poissonized bootstrap CI for the per-type mean (Chamandy et
  // al. 2012, the distributed bootstrap): each row enters replicate b
  // with a Poisson(1) weight drawn by inverse CDF from the md5-uniform
  // of (event_id, b) — one explode + ONE map-combinable (group, b)
  // aggregate, flat per-replicate state, no resample materialization.
  // Deterministic weights (md5 + identical CDF literals both sides) +
  // exact interpolated percentiles (the a11 quantile_cont equivalence)
  // make the whole surface hash-oracled. 32 replicates over the
  // click/purchase rows; B·rows through one shuffle is the entire cost.
  val m52 = Q("m52_bootstrap_ci",
    (s, d) => Stats.bootstrapMeanCi(
      ev(s, d).where(col("event_type").isin("click", "purchase")),
      "event_type", "value", "event_id", b = 32, lo = 0.025, hi = 0.975),
    Some("""WITH e AS (SELECT event_type, event_id, value FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL AND event_id IS NOT NULL),
      r AS (SELECT event_type, value, b,
          CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' ||
            CAST(b AS VARCHAR)), 1, 14)) AS BIGINT) / power(2, 56) AS u
        FROM e, range(0, 32) rr(b)),
      w AS (SELECT event_type, b, value,
          CASE WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238463 THEN 3
               WHEN u < 0.9963401531726563 THEN 4
               WHEN u < 0.9994058151824183 THEN 5
               WHEN u < 0.999916758850712 THEN 6
               WHEN u < 0.9999897508033253 THEN 7
               ELSE 8 END AS w
        FROM r),
      m AS (SELECT event_type, b, sum(w * value) / sum(w) AS m
        FROM w GROUP BY 1, 2),
      pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          round(avg(value) + 1e-9, 6) AS mean FROM e GROUP BY 1),
      ci AS (SELECT event_type,
          round(quantile_cont(m, 0.025) + 1e-9, 6) AS ci_lo,
          round(quantile_cont(m, 0.975) + 1e-9, 6) AS ci_hi
        FROM m GROUP BY 1)
      SELECT pt.event_type, n, mean, ci_lo, ci_hi
      FROM pt JOIN ci USING (event_type)"""))

  // J13B — nearest-direction as-of with tolerance (pandas merge_asof
  // direction='nearest'): each purchase takes the view of the same user
  // closest in time, either direction, within 2 hours; equidistant →
  // backward (pandas' rule). Same union-not-join construction as j13,
  // both directions over ONE per-key sort — still one shuffle, no range
  // join. Deterministic (whole-second gap arithmetic), hash-oracled via
  // DuckDB's two directional ASOF arms + the same tolerance/tie CASE.
  val j13b = Q("j13b_asof_nearest",
    (s, d) => {
      val views = ev(s, d).where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
        .withColumn("view_ts_sec", unix_seconds(col("ts")))
      val purchases = ev(s, d).where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asOfNearest(purchases, views,
          Seq("user_id"), "ts", Seq("view_value", "view_ts_sec"),
          toleranceSec = 7200, prefix = "near_")
        .select(col("event_id"), col("user_id"),
          round(col("near_view_value") + lit(1e-9), 6)
            .as("near_view_value"),
          col("near_view_ts_sec"), col("near_dir"))
    },
    Some("""WITH v AS (SELECT user_id, ts, max(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      p AS (SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'),
      b AS (SELECT p.event_id, v.view_value AS bv,
          CAST(floor(epoch(v.ts)) AS BIGINT) AS bts,
          CAST(floor(epoch(p.ts)) AS BIGINT)
            - CAST(floor(epoch(v.ts)) AS BIGINT) AS bd
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.ts <= p.ts),
      f AS (SELECT p.event_id, v.view_value AS fv,
          CAST(floor(epoch(v.ts)) AS BIGINT) AS fts,
          CAST(floor(epoch(v.ts)) AS BIGINT)
            - CAST(floor(epoch(p.ts)) AS BIGINT) AS fd
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.ts >= p.ts),
      m AS (SELECT p.event_id, p.user_id,
          bts IS NOT NULL AND bd <= 7200 AS bok,
          fts IS NOT NULL AND fd <= 7200 AS fok,
          bv, bts, bd, fv, fts, fd
        FROM p JOIN b USING (event_id) JOIN f USING (event_id))
      SELECT event_id, user_id,
        round(CASE WHEN bok AND (NOT fok OR bd <= fd) THEN bv
          WHEN fok THEN fv END + 1e-9, 6) AS near_view_value,
        CASE WHEN bok AND (NOT fok OR bd <= fd) THEN bts
          WHEN fok THEN fts END AS near_view_ts_sec,
        CASE WHEN bok AND (NOT fok OR bd <= fd) THEN 'backward'
          WHEN fok THEN 'forward' END AS near_dir
      FROM m"""))

  val all: Seq[Q] = Seq(m50, t59, t60, g8, v12, t61, st6, ann9, t62,
    m51, t63, m52, j13b)
}
