package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef.Q
import graft.operators._

/** Catalog part G (round 3, cont.): corpus-prep operators a training-data
  * pipeline runs between cleaning and tokenization — overlapping context-
  * window chunking, domain balancing, bigram language-model statistics —
  * plus Unicode normalization and join-reduction additions. Spark-first
  * plans with full DuckDB oracles.
  */
object QueriesG {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // T23 — overlapping token-window chunking (chunkLen=64, stride=32): the
  // context-window prep step before tokenization. Pure per-row column
  // algebra (sequence → explode → slice), so it's scan-speed map work
  // with no shuffle — the plan you need when chunking 100 TB. Start
  // offsets stop once the remaining tail is already covered by the
  // previous chunk, so short docs yield exactly one chunk and the tail
  // is never dropped (least() caps the last chunk's token count).
  val t23 = Q("t23_chunk_overlap",
    (s, d) => TextAnalysis.chunkTokens(docs(s, d), "doc_id", "text",
      chunkLen = 64, stride = 32),
    Some("""WITH t AS (
        SELECT doc_id,
          string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        FROM documents WHERE length(trim(regexp_replace(text, '\s+', ' ', 'g'))) > 0),
      s AS (SELECT doc_id, toks, n,
          unnest(generate_series(0, greatest(n - 64 + 32 - 1, 0), 32)) AS st
        FROM (SELECT doc_id, toks, len(toks) AS n FROM t))
      SELECT doc_id, CAST(st // 32 AS INT) AS chunk_idx,
        least(n - st, 64) AS chunk_tokens,
        array_to_string(list_slice(toks, st + 1, st + 64), ' ') AS chunk_text
      FROM s"""))

  // T24 — per-domain cap (domain balancing): keep at most 15 documents
  // per source, selected by deterministic md5-of-id order, NOT scan
  // order — the survivor set is identical across runs, engines, and
  // retries, which is what makes a capped corpus reproducible. One
  // shuffle on the domain key; the operator scaladoc documents the
  // map-side threshold pre-filter that bounds the hot partition when one
  // domain dominates a 100 TB crawl mix.
  val t24 = Q("t24_domain_cap",
    (s, d) => Sampling.capPerGroup(docs(s, d), "source", "doc_id", cap = 15)
      .select(col("doc_id"), col("source"), col("rn")),
    Some("""SELECT doc_id, source, rn FROM (
        SELECT doc_id, source, row_number() OVER (
          PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) WHERE rn <= 15"""))

  // T25 — bigram language-model statistics: per head word, the most
  // likely continuation and its conditional probability P(w2|w1) =
  // c(w1,w2)/c(w1). Bigrams come from one per-row transform over the
  // token array (no self-join: position i pairs with i+1 inside the
  // array), then ONE shuffle groups (w1,w2); the per-head total and
  // argmax ride a single window over the grouped (already reduced)
  // frame. tot >= 20 keeps the output to statistically meaningful heads.
  // This is the n-gram-LM build step of a perplexity-style quality
  // filter (t22 consumes unigram stats the same way).
  val t25 = Q("t25_bigram_lm",
    (s, d) => {
      val cleaned = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      val toks = split(cleaned, " ")
      val bg = docs(s, d).where(length(cleaned) > 0)
        .select(toks.as("t")).where(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("bg"))
        .select(col("bg.w1"), col("bg.w2"))
      val counts = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
      val wTot = Window.partitionBy(col("w1"))
      val wTop = wTot.orderBy(col("cnt").desc, col("w2"))
      counts
        .withColumn("tot", sum(col("cnt")).over(wTot))
        .withColumn("rn", row_number().over(wTop))
        .where(col("rn") === 1 && col("tot") >= 20)
        .select(col("w1"), col("w2"), col("cnt"),
          round(col("cnt") / col("tot") + lit(1e-9), 6).as("cond_p"))
    },
    Some("""WITH toks AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        FROM documents WHERE length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) > 0),
      bg AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM
        (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
         FROM toks WHERE len(t) >= 2)),
      c AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
      r AS (SELECT w1, w2, cnt, sum(cnt) OVER (PARTITION BY w1) AS tot,
        row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rn FROM c)
      SELECT w1, w2, cnt, round(cnt / tot + 1e-9, 6) AS cond_p
      FROM r WHERE rn = 1 AND tot >= 20"""))

  // T26 — Unicode canonicalization: NFC via the custom codegen'd
  // UnicodeNormalize expression (Spark has no built-in; DuckDB ships
  // nfc_normalize), strip-accents composed as NFD + regex-drop \p{M}.
  // The fixture corpus is ASCII, so a decomposed suffix ('cafe'+U+0301,
  // 'du'+U+0308+'ne') is planted onto each row to force real composition
  // work — composed_delta == 2 proves NFC actually merged both marks.
  // Without this canonicalization step, exact-dedup digests (t3) and
  // MinHash shingles (t5) treat 'é' and 'e'+◌́ as different documents.
  val t26 = Q("t26_unicode_normalize",
    (s, d) => {
      import graft.expressions.UnicodeNormalize
      val planted = concat(substring(col("text"), 1, 40),
        lit(" cafe\u0301 du\u0308ne")) // decomposed: e+U+0301, u+U+0308
      docs(s, d).select(col("doc_id"),
        UnicodeNormalize.nfc(planted).as("nfc_text"),
        regexp_replace(UnicodeNormalize.nfd(planted), "\\p{M}", "")
          .as("ascii_text"),
        (length(planted) - length(UnicodeNormalize.nfc(planted)))
          .as("composed_delta"))
    },
    Some("""WITH p AS (SELECT doc_id,
        substr(text, 1, 40) || ' cafe' || chr(769) || ' du' || chr(776) || 'ne' AS planted
        FROM documents)
      SELECT doc_id, nfc_normalize(planted) AS nfc_text,
        strip_accents(planted) AS ascii_text,
        length(planted) - length(nfc_normalize(planted)) AS composed_delta
      FROM p"""))

  // J15 — Bloom-filter semi-join reduction: the urgent-orders dimension
  // builds a Bloom filter once (one deliberate pass over the SMALL side —
  // the same two-phase shape Spark's own InjectRuntimeFilter produces);
  // the lineitem fact side drops non-members BEFORE the join shuffle via
  // the codegen'd might-contain probe, then an exact semi join removes
  // the false positives. Oracle = the plain semi join: the pre-filter
  // provably changes cost, not semantics. At 100 TB this is the
  // difference between shuffling the full fact table and shuffling the
  // matching fraction + ε.
  val j15 = Q("j15_bloom_semi_join",
    (s, d) => {
      import graft.expressions.BloomMightContain
      val dim = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloom = dim.stat.bloomFilter("o_orderkey", 100000, 0.01)
      Tables.lineitem(s, d)
        .where(BloomMightContain(col("l_orderkey"), bloom))
        .join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            + lit(1e-9), 2).as("rev"))
    },
    Some("""SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders,
        round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS rev
      FROM lineitem WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')"""))

  // G3 — exact triangle census on the supplier co-occurrence backbone:
  // the 500 strongest co-occurrence edges (total-ordered by weight then
  // endpoints, so the backbone is deterministic at any scale factor),
  // counted via degree-oriented wedge joins (operator scaladoc derives
  // the O(√m) out-degree bound). The oracle counts triangles with the
  // naive three-way self-join — different algorithm, same census, which
  // is exactly what makes this a strong correctness check of the
  // orientation logic.
  val g3 = Q("g3_triangle_count",
    (s, d) => Graph.triangleStats(backbone(s, d)),
    Some("""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      p AS (SELECT a.sp AS s1, b.sp AS s2, count(*) AS sc
        FROM e0 a JOIN e0 b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
      e AS (SELECT s1, s2 FROM p ORDER BY sc DESC, s1, s2 LIMIT 500),
      tri AS (SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
                  JOIN e e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2),
      deg AS (SELECT v, count(*) AS d FROM
        (SELECT s1 AS v FROM e UNION ALL SELECT s2 AS v FROM e) GROUP BY 1),
      w AS (SELECT sum(d * (d - 1) / 2) AS n_wedges FROM deg)
      SELECT n_triangles, CAST(n_wedges AS BIGINT) AS n_wedges,
        round(3.0 * n_triangles / n_wedges + 1e-9, 6) AS clustering_coeff
      FROM tri, w"""))

  // A29B — incremental VARIANCE: three disjoint thirds of the fact table
  // are aggregated separately (as on successive ingest runs) into
  // (cnt, sum, sumsq, min, max) states and merged key-wise; variance and
  // stddev are derived only at read time. Oracle = one-shot closed form
  // over the whole table, so a pass proves the second moment is truly
  // algebraic under the 3-way merge (a29 proved it for first moments).
  val a29b = Q("a29b_incremental_variance",
    (s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
      val parts = (0 until 3).map(i =>
        IncrementalAgg.state(e.where(pmod(col("event_id"), lit(3)) === i),
          Seq("event_type"), "value"))
      IncrementalAgg.finish(IncrementalAgg.merge(parts, Seq("event_type")))
        .select(col("event_type"), col("cnt"),
          round(col("variance") + lit(1e-9), 2).as("variance"),
          round(col("stddev") + lit(1e-9), 4).as("stddev"))
    },
    Some("""SELECT event_type, count(value) AS cnt,
        round((sum(value * value) - sum(value) * sum(value) / count(value))
          / (count(value) - 1) + 1e-9, 2) AS variance,
        round(sqrt((sum(value * value) - sum(value) * sum(value) / count(value))
          / (count(value) - 1)) + 1e-9, 4) AS stddev
      FROM events WHERE value IS NOT NULL GROUP BY 1"""))

  // M20 — mergeable histogram quantile sketch: daily facts land in a
  // weekly equi-width histogram state (ONE shuffle on (week, bin); state
  // = weeks × ≤50 rows), and p50/p90/p99 are interpolated from the bins.
  // The quantile analogue of a30's HLL rollup — but deterministic, so it
  // carries a full SQL oracle instead of an error-bound spec. Accuracy
  // is a fixed ±width/2; tighten by narrowing [lo, hi) or adding bins —
  // state stays tiny either way. At 100 TB the sketch build is map-side
  // combinable and the estimate never touches the facts again.
  val m20 = Q("m20_histogram_quantile_sketch",
    (s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
      val state = Stats.histogramState(e,
        date_trunc("week", col("ts")).cast("date"), col("value"),
        lo = 0.0, hi = 500.0, bins = 50)
      Stats.histogramQuantiles(state, 0.0, 500.0, 50, Seq(0.5, 0.9, 0.99))
    },
    Some("""WITH h AS (
        SELECT date_trunc('week', CAST(ts AS DATE)) AS period,
          least(greatest(CAST(floor(value / 10.0) AS INT), 0), 49) AS bin,
          count(*) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      c AS (SELECT period, bin, cnt,
          sum(cnt) OVER (PARTITION BY period ORDER BY bin) AS cum,
          sum(cnt) OVER (PARTITION BY period) AS total
        FROM h),
      e AS (SELECT period, bin, cnt, cum, total,
        unnest([0.5, 0.9, 0.99]) AS p FROM c)
      SELECT period, p,
        round(10.0 * (bin + (p * total - (cum - cnt)) / cnt) + 1e-9, 6) AS q_est
      FROM e WHERE cum >= p * total AND (cum - cnt) < p * total"""))

  // MM3 — in-plan raster decode + resize: the first 64 payload BYTES are
  // an 8×8 grayscale raster, 2×2 average-pooled to 4×4, with per-image
  // mean and contrast — the resize/feature-extract step of an image
  // pipeline as PURE column algebra over the binary column (byte i read
  // via hex + dynamic substr + base-16 conv, all codegen'd; no UDF, no
  // driver round-trip). A real codec replaces only the byte→pixel read;
  // the pooling/window shape — explode 16 pool cells, windows over the
  // 16-row per-asset frame — is exactly what it would keep at 100 TB.
  val mm3 = Q("mm3_raster_pool",
    (s, d) => {
      val withPool = Multimodal.rasterPool16(Multimodal.toAssets(
        docs(s, d).where(length(col("text")) >= 64), "doc_id", "text",
        "image"))
      val w = Window.partitionBy(col("asset_id"))
      withPool.select(col("asset_id"), col("pool_idx"),
        round(col("pooled") + lit(1e-9), 2).as("pooled"),
        round(avg(col("pooled")).over(w) + lit(1e-9), 2).as("img_mean"),
        round(max(col("pooled")).over(w) - min(col("pooled")).over(w)
          + lit(1e-9), 2).as("img_contrast"))
    },
    Some("""WITH a AS (SELECT doc_id AS asset_id, hex(encode(text)) AS h
        FROM documents WHERE length(text) >= 64),
      i AS (SELECT asset_id, h, unnest(generate_series(0, 15)) AS pool_idx FROM a),
      p AS (SELECT asset_id, pool_idx,
        (CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2) * 2 + 1, 2) AS INT)
       + CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2 + 1) * 2 + 1, 2) AS INT)
       + CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2 + 8) * 2 + 1, 2) AS INT)
       + CAST('0x' || substr(h, ((pool_idx // 4) * 16 + (pool_idx % 4) * 2 + 9) * 2 + 1, 2) AS INT)
        ) / 4.0 AS pooled
       FROM i)
      SELECT asset_id, pool_idx, round(pooled + 1e-9, 2) AS pooled,
        round(avg(pooled) OVER (PARTITION BY asset_id) + 1e-9, 2) AS img_mean,
        round(max(pooled) OVER (PARTITION BY asset_id)
          - min(pooled) OVER (PARTITION BY asset_id) + 1e-9, 2) AS img_contrast
      FROM p"""))

  // MM4 — frame sampling over a binary "video": payload split into
  // 32-byte frames, every 3rd frame kept, each sampled frame carrying
  // its content signature and offset. The explode is bounded by
  // byte_len/96 rows per asset, and the frame signature is md5 over the
  // hex image of exactly those 32 bytes (DuckDB's md5 is VARCHAR-only,
  // so both engines sign the hex slice — same bytes, dedup-equivalent).
  // This is the frame extraction a video pipeline runs before per-frame
  // decode: no UDF, no payload copy ahead of the slice.
  val mm4 = Q("mm4_frame_sample",
    (s, d) => {
      val assets = Multimodal.toAssets(
        docs(s, d).where(length(col("text")) >= 64), "doc_id", "text", "video")
      assets
        .withColumn("frame_idx", explode(sequence(lit(0),
          (col("byte_len") / 32).cast("int") - 1, lit(3))))
        .select(col("asset_id"), col("frame_idx"),
          (col("frame_idx") * 32).as("frame_offset"),
          md5(hex(col("payload")).substr(col("frame_idx") * 64 + 1, lit(64)))
            .as("frame_md5"))
    },
    Some("""WITH a AS (SELECT doc_id AS asset_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS byte_len
        FROM documents WHERE length(text) >= 64),
      f AS (SELECT asset_id, h,
        unnest(generate_series(0, CAST(byte_len // 32 AS INT) - 1, 3)) AS frame_idx
        FROM a)
      SELECT asset_id, frame_idx, frame_idx * 32 AS frame_offset,
        md5(substr(h, frame_idx * 64 + 1, 64)) AS frame_md5
      FROM f"""))

  // MM3b — the REAL codec end-to-end: per-doc deterministic two-band
  // grayscale PNGs are encoded in-plan (javax.imageio, pure JVM), carried
  // as binary payloads, then decoded back to actual pixels through the
  // SAME batched-decode harness the stub uses (Multimodal.decodeBatched
  // with imageIoDecode) — dimensions come from the decoded image and the
  // mean luma is summed over the decoded raster. Because the raster is
  // written directly (no sRGB conversion) and PNG is lossless, the
  // decoded mean has a closed form the oracle reproduces: the hash gate
  // fails if the codec misreads a single pixel. This retires the
  // round-5 'stub codec' weak: the harness is now proven with a real
  // image codec, not a deterministic fake. At 100 TB the encode side is
  // replaced by reading media files; decode plumbing is unchanged.
  val mm3b = Q("mm3b_png_decode",
    (s, d) => {
      val spec = docs(s, d).select(
        col("doc_id").cast("long").as("asset_id"),
        (col("doc_id") % 48 + 16).cast("int").as("width"),
        ((col("doc_id") * 7) % 32 + 16).cast("int").as("height"),
        (col("doc_id") % 256).cast("int").as("luma_top"),
        ((col("doc_id") * 31) % 256).cast("int").as("luma_bottom"))
      val pngs = Multimodal.renderPngAssets(Fan.out(spec))
      Multimodal.decodeBatched(pngs)(Multimodal.imageIoDecode)
        .select(col("asset_id"), col("width"), col("height"),
          round(col("mean_luma") + lit(1e-9), 6).as("mean_luma"))
    },
    Some("""WITH b AS (SELECT doc_id AS asset_id,
        CAST(doc_id % 48 + 16 AS INT) AS width,
        CAST((doc_id * 7) % 32 + 16 AS INT) AS height,
        doc_id % 256 AS lt, (doc_id * 31) % 256 AS lb
        FROM documents)
      SELECT asset_id, width, height,
        round(((height // 2) * lt + (height - height // 2) * lb) * 1.0
          / height + 1e-9, 6) AS mean_luma
      FROM b"""))

  // ANN3 — reciprocal-rank fusion over two retrieval signals: cosine
  // top-20 and euclidean top-20 per query, fused as Σ 1/(60+rank) over
  // the union (a missing rank contributes 0), top-10 kept. RRF is the
  // standard hybrid-search combiner (dense + sparse / multiple ANN
  // probes) because it needs no score calibration — only ranks, which
  // are deterministic here via total-order tie-breaks, so the whole
  // fusion carries a full SQL oracle. Both signals share ONE pair
  // computation (the distance algebra reuses the same codegen'd dot
  // products); ranks ride two windows over the same pair frame; the
  // fusion join is keyed on (query, neighbor) — hash-shuffleable, and
  // at scale each signal's top-k comes from its ANN index (ann1/ann2)
  // instead of the exact pair frame, same fusion downstream.
  val ann3 = Q("ann3_rrf_fusion",
    (s, d) => {
      import graft.expressions.DotProduct.dot
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val pairs = broadcast(q).join(emb, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qv"), col("v")) /
            (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("v"), col("v")))))
            .as("cosine"),
          sqrt(dot(col("qv"), col("qv")) + dot(col("v"), col("v"))
            - lit(2) * dot(col("qv"), col("v"))).as("dist"))
      val wCos = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val wL2 = Window.partitionBy(col("query_id"))
        .orderBy(col("dist").asc, col("neighbor_id"))
      // Both signal branches read this frame — one eager materialization
      // so the pair computation (the expensive part) runs once, not per
      // branch; checkpoint blocks are GC-released after the query.
      val ranked = pairs
        .withColumn("rank_cos", row_number().over(wCos))
        .withColumn("rank_l2", row_number().over(wL2))
        .localCheckpoint(true)
      val ra = ranked.where(col("rank_cos") <= 20)
        .select(col("query_id"), col("neighbor_id"), col("rank_cos"))
      val rb = ranked.where(col("rank_l2") <= 20)
        .select(col("query_id"), col("neighbor_id"), col("rank_l2"))
      val fused = ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_l2")), lit(0.0)))
      val wF = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("neighbor_id"))
      fused.withColumn("fused_rank", row_number().over(wF))
        .where(col("fused_rank") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("fused_rank"),
          round(col("rrf") + lit(1e-9), 6).as("rrf_score"))
    },
    Some("""WITH pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine,
          list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS dist
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id),
      r AS (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rank_cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY dist ASC, neighbor_id) AS rank_l2
        FROM pairs),
      f AS (SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
          coalesce(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
          coalesce(1.0 / (60 + ra.rank_cos), 0) +
            coalesce(1.0 / (60 + rb.rank_l2), 0) AS rrf
        FROM (SELECT * FROM r WHERE rank_cos <= 20) ra
        FULL JOIN (SELECT * FROM r WHERE rank_l2 <= 20) rb
          ON ra.query_id = rb.query_id AND ra.neighbor_id = rb.neighbor_id),
      t AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
          PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS fused_rank
        FROM f)
      SELECT query_id, neighbor_id, fused_rank,
        round(rrf + 1e-9, 6) AS rrf_score
      FROM t WHERE fused_rank <= 10"""))

  // T27 — URL curation battery: host extraction, path depth, tracking-
  // param detection, domain blocklist, canonicalization (query-string
  // strip) — the crawl-side filters that run before any text ever
  // reaches quality scoring. URLs are planted deterministically from doc
  // fields (the fixture has no URL column); every step is shared-regex
  // column algebra, identical in both engines, scan-speed at any corpus
  // size. The blocklist here is an IN-list; at real scale it becomes a
  // broadcast join against a blocklist table (j5's shape) — same plan
  // class.
  val t27 = Q("t27_url_curation",
    (s, d) => {
      val url = concat(lit("https://"), col("source"),
        lit(".example.com/docs/"), col("doc_id"),
        when(col("lang") === "en",
          concat(lit("?utm_source=feed&ref="), col("source")))
          .otherwise(lit("")))
      val host = regexp_extract(url, "^https?://([^/]+)", 1)
      val path = regexp_extract(url, "^https?://[^/]+(/[^?#]*)", 1)
      docs(s, d).select(col("doc_id"),
        host.as("host"),
        (length(path) - length(regexp_replace(path, "/", "")))
          .cast("long").as("path_depth"),
        url.contains("utm_").as("has_tracking"),
        host.isin("src0.example.com", "src13.example.com").as("blocked"),
        regexp_replace(url, "\\?.*$", "").as("canonical"))
    },
    Some("""WITH u AS (SELECT doc_id, lang, source,
        'https://' || source || '.example.com/docs/' || doc_id ||
          CASE WHEN lang = 'en' THEN '?utm_source=feed&ref=' || source
               ELSE '' END AS url
        FROM documents)
      SELECT doc_id,
        regexp_extract(url, '^https?://([^/]+)', 1) AS host,
        length(regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1))
          - length(replace(regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1),
              '/', '')) AS path_depth,
        contains(url, 'utm_') AS has_tracking,
        regexp_extract(url, '^https?://([^/]+)', 1)
          IN ('src0.example.com', 'src13.example.com') AS blocked,
        regexp_replace(url, '\?.*$', '') AS canonical
      FROM u"""))

  // O12 — Z-order (Morton) layout audit: interleave the low 8 bits of
  // two dimensions into one z-value with pure integer algebra (aggregate
  // over sequence — no UDF, no custom expression needed), then show the
  // locality it buys: fixed-width z-ranges (zval DIV 4096 — a plain
  // groupBy, deliberately NOT a global-sort ntile) have tight min/max
  // boxes in BOTH dimensions at once, which is exactly the property that
  // lets a multi-dimensionally-filtered scan skip row groups. The
  // matching write path is `Writers.writeRangeClustered` on zval; this
  // query is the layout's measurable certificate.
  val o12 = Q("o12_zorder_layout",
    (s, d) => {
      val x = pmod(col("user_id"), lit(256L))
      val y = pmod(floor(coalesce(col("value"), lit(0.0))).cast("long"),
        lit(256L))
      val zval = aggregate(sequence(lit(0), lit(7)), lit(0L),
        (acc, i) => {
          val p2i = pow(lit(2.0), i).cast("long")
          val bitX = pmod((x / p2i).cast("long"), lit(2L))
          val bitY = pmod((y / p2i).cast("long"), lit(2L))
          acc + bitX * pow(lit(2.0), i * 2).cast("long") +
            bitY * pow(lit(2.0), i * 2 + 1).cast("long")
        })
      Tables.events(s, d)
        .select(col("event_id"), x.as("x"), y.as("y"), zval.as("zval"))
        .groupBy((col("zval") / 4096).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
    },
    Some("""WITH b AS (SELECT event_id,
        ((user_id % 256) + 256) % 256 AS x,
        ((CAST(floor(coalesce(value, 0)) AS BIGINT) % 256) + 256) % 256 AS y
        FROM events),
      z AS (SELECT event_id, x, y,
        list_sum(list_transform(range(0, 8), i ->
          ((x // CAST(2**i AS BIGINT)) % 2) * CAST(2**(2*i) AS BIGINT)
          + ((y // CAST(2**i AS BIGINT)) % 2)
            * CAST(2**(2*i+1) AS BIGINT))) AS zval
        FROM b)
      SELECT CAST(zval // 4096 AS INT) AS bucket, count(*) AS n,
        min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
      FROM z GROUP BY 1"""))

  /** g3's deterministic top-500 co-occurrence backbone, shared by the
    * triangle census and the k-core peel.
    *
    * r15 measurement note (guide §1.1): a "fewer exchanges" rewrite —
    * groupBy(c).collect_set(sp) + expression-land s1 < s2 pair explosion
    * replacing distinct → self-join — was implemented and MEASURED
    * 2.8× SLOWER (7.9 s vs 2.84 s at sf0.1, local[32]): collect_set is
    * an ObjectHashAggregate (no whole-stage codegen) and the nested
    * higher-order transform/slice/flatten pair builder allocates an
    * array-of-array-of-structs per customer, swamping the two exchanges
    * it saves. Reverted to the codegen-friendly join form; evidence in
    * OPTIMIZATION_r15.md.
    */
  private[graft] def backbone(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .distinct()
    e0.select(col("c"), col("sp").as("s1"))
      .join(e0.select(col("c"), col("sp").as("s2")), Seq("c"))
      .where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("sc"))
      .orderBy(col("sc").desc, col("s1"), col("s2")).limit(500)
      .select(col("s1"), col("s2"))
  }

  // G4 — k-core decomposition, bounded peel: 3 rounds of "drop nodes
  // with degree < 12" over the supplier backbone — the graph-pruning
  // step that isolates the densely connected community (spam-farm and
  // bot-ring detection run exactly this before heavier analysis). Fixed
  // rounds keep it oracle-checkable; the operator scaladoc gives the
  // run-to-fixpoint form. The backbone's top-500 cut is the bounded edge
  // list kCorePeel's one-row fold needs. Oracle recomputes the peel as
  // 3 chained CTE rounds — same semantics, no iteration construct needed.
  val g4 = Q("g4_kcore_peel",
    (s, d) => Graph.kCorePeel(backbone(s, d), k = 12, rounds = 3),
    Some("""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      p AS (SELECT a.sp AS s1, b.sp AS s2, count(*) AS sc
        FROM e0 a JOIN e0 b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
      e AS (SELECT s1, s2 FROM p ORDER BY sc DESC, s1, s2 LIMIT 500),
      d1 AS (SELECT v, count(*) AS d FROM
        (SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e) GROUP BY 1),
      e1 AS (SELECT * FROM e
        WHERE s1 NOT IN (SELECT v FROM d1 WHERE d < 12)
          AND s2 NOT IN (SELECT v FROM d1 WHERE d < 12)),
      d2 AS (SELECT v, count(*) AS d FROM
        (SELECT s1 AS v FROM e1 UNION ALL SELECT s2 FROM e1) GROUP BY 1),
      e2 AS (SELECT * FROM e1
        WHERE s1 NOT IN (SELECT v FROM d2 WHERE d < 12)
          AND s2 NOT IN (SELECT v FROM d2 WHERE d < 12)),
      d3 AS (SELECT v, count(*) AS d FROM
        (SELECT s1 AS v FROM e2 UNION ALL SELECT s2 FROM e2) GROUP BY 1),
      e3 AS (SELECT * FROM e2
        WHERE s1 NOT IN (SELECT v FROM d3 WHERE d < 12)
          AND s2 NOT IN (SELECT v FROM d3 WHERE d < 12))
      SELECT v, count(*) AS deg FROM
        (SELECT s1 AS v FROM e3 UNION ALL SELECT s2 FROM e3) GROUP BY 1"""))

  // T28 — cross-run incremental dedup: near-dup pairs touching the NEW
  // batch (doc_id ≡ 0 mod 5 plays the nightly delta), found by probing
  // the LSH band index from the delta side only — candidate space scales
  // with the delta, not with O(N²) of the corpus. History signatures are
  // immutable, so in production they're loaded state (a29's pattern);
  // the oracle recomputes the full t5 pair set and keeps pairs with a
  // delta member — same result by construction, different (and at scale
  // unaffordable) route.
  val t28 = Q("t28_incremental_dedup",
    (s, d) => Dedup.minHashLshPairsIncremental(docs(s, d), "text", "doc_id",
      isDelta = pmod(col("doc_id"), lit(5)) === 0,
      shingleSize = 3, numHashes = 32, rowsPerBand = 4, threshold = 0.5),
    Some("""WITH toks AS (SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS tk FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
        FROM toks, unnest(generate_series(1, len(tk) - 2)) AS g(i)
        WHERE len(tk) >= 3),
      hx AS (SELECT doc_id,
        CAST(('0x' || substr(md5(shingle), 1, 14)) AS BIGINT) % 2147483647
          AS h FROM sh),
      sig AS (SELECT doc_id, i AS hash_idx,
        min((h * ((2654435761 * (i+1)) % 2147483647)
          + ((40503 * (i+1)) % 2147483647)) % 2147483647) AS min_hash
        FROM hx, unnest(generate_series(0, 31)) AS g(i) GROUP BY 1, 2),
      band AS (SELECT doc_id, hash_idx // 4 AS band,
        list(min_hash ORDER BY hash_idx) AS bsig FROM sig GROUP BY 1, 2),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b ON a.band = b.band AND a.bsig = b.bsig
          AND a.doc_id < b.doc_id
        WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
      est AS (SELECT id_a, id_b,
        CAST(sum(CASE WHEN sa.min_hash = sb.min_hash THEN 1 ELSE 0 END)
          AS DOUBLE) / 32 AS ej
        FROM cand
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b AND sa.hash_idx = sb.hash_idx
        GROUP BY 1, 2)
      SELECT id_a, id_b, round(ej + 1e-9, 6) AS est_jaccard
      FROM est WHERE ej >= 0.5"""))

  private def langScoreSql(markers: Seq[String]): String =
    s"""CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       w -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], w)))
       AS DOUBLE) / len(string_split_regex(lower(trim(text)), '\\s+'))"""

  // T29 — the composite quality GATE: the actual accept/reject decision a
  // curation pipeline makes, composed from the already-verified row-local
  // filters (t1 quality features, t13 repetition, t4 language ID) in ONE
  // pass — every feature is a projection over the same scan, so the
  // whole gate is a single codegen'd stage with no shuffle; rules fire in
  // priority order and the first failure names the reject reason. This
  // is the plan shape that matters at 100 TB: N filters over one read,
  // not N reads.
  val t29 = Q("t29_quality_gate",
    (s, d) => {
      val base = docs(s, d).where(length(trim(col("text"))) > 0)
      val feats = TextAnalysis.withLanguageId(
        TextAnalysis.withRepetitionStats(
          TextAnalysis.withQualityFeatures(base, "text"), "text"), "text")
      val reason = when(col("n_tokens") < 10, "too_short")
        .when(col("punct_ratio") >= 0.2, "high_punct")
        .when(col("dup_bigram_frac") > 0.3 || col("top_word_frac") > 0.2,
          "repetitive")
        .when(col("lang_pred") =!= col("lang"), "lang_mismatch")
        .otherwise("ok")
      feats.select(col("doc_id"), col("lang"), col("lang_pred"),
        col("n_tokens"), reason.as("reject_reason"),
        (reason === "ok").as("accept"))
    },
    Some {
      val m = TextAnalysis.langMarkers
      s"""WITH q AS (SELECT doc_id, lang, text,
          len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
          CAST(length(regexp_replace(regexp_replace(text, '\\s+', '', 'g'),
              '[\\p{L}\\p{N}]', '', 'g')) AS DOUBLE)
            / length(regexp_replace(text, '\\s+', '', 'g')) AS punct_ratio,
          ${langScoreSql(m("de"))} AS s_de,
          ${langScoreSql(m("en"))} AS s_en,
          ${langScoreSql(m("es"))} AS s_es,
          ${langScoreSql(m("fr"))} AS s_fr,
          ${langScoreSql(m("zh"))} AS s_zh
        FROM documents WHERE length(trim(text)) > 0),
      rep AS (SELECT doc_id,
          CASE WHEN len(words) > 1 THEN 1.0 -
            CAST(len(list_distinct(list_transform(range(1, len(words)),
              i -> words[i] || ' ' || words[i + 1]))) AS DOUBLE)
              / (len(words) - 1)
            ELSE 0.0 END AS dup_bigram_frac,
          CAST(list_max(list_transform(list_distinct(words),
            w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE)
            / len(words) AS top_word_frac
        FROM (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\\s+') AS words
          FROM documents WHERE length(trim(text)) > 0)),
      lp AS (SELECT doc_id,
          CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
              AND s_de >= s_zh THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS lang_pred
        FROM q),
      dec AS (SELECT q.doc_id, q.lang, lp.lang_pred, q.n_tokens,
          CASE WHEN q.n_tokens < 10 THEN 'too_short'
            WHEN q.punct_ratio >= 0.2 THEN 'high_punct'
            WHEN rep.dup_bigram_frac > 0.3 OR rep.top_word_frac > 0.2
              THEN 'repetitive'
            WHEN lp.lang_pred <> q.lang THEN 'lang_mismatch'
            ELSE 'ok' END AS reject_reason
        FROM q JOIN rep ON rep.doc_id = q.doc_id
          JOIN lp ON lp.doc_id = q.doc_id)
      SELECT doc_id, lang, lang_pred, n_tokens, reject_reason,
        (reject_reason = 'ok') AS accept
      FROM dec"""
    })

  // T30 — LEAKAGE-FREE train/val/test split: the split key is the
  // near-dup CLUSTER id (t17's transitive closure), not the doc id, so
  // two near-copies can never land on opposite sides of the split — the
  // eval-contamination failure mode that per-doc hashing (t10) cannot
  // prevent. Composition: LSH pairs → connected components → md5 split
  // of the cluster label; every piece is the already-verified operator.
  // Output keeps (doc_id, cluster_id, split) so the oracle checks the
  // assignment row by row.
  val t30 = Q("t30_leakage_free_split",
    (s, d) => {
      val cc = Dedup.nearDupClusters(docs(s, d), "text", "doc_id")
      Sampling.withSplit(cc, "cluster_id", valPct = 10, testPct = 10)
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id,
        string_split_regex(trim(text), '\s+') AS tk FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
        FROM toks, unnest(generate_series(1, len(tk) - 2)) AS g(i)
        WHERE len(tk) >= 3),
      hx AS (SELECT doc_id,
        CAST(('0x' || substr(md5(shingle), 1, 14)) AS BIGINT) % 2147483647
          AS h FROM sh),
      sig AS (SELECT doc_id, i AS hash_idx,
        min((h * ((2654435761 * (i+1)) % 2147483647)
          + ((40503 * (i+1)) % 2147483647)) % 2147483647) AS min_hash
        FROM hx, unnest(generate_series(0, 31)) AS g(i) GROUP BY 1, 2),
      band AS (SELECT doc_id, hash_idx // 4 AS band,
        list(min_hash ORDER BY hash_idx) AS bsig FROM sig GROUP BY 1, 2),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b ON a.band = b.band AND a.bsig = b.bsig
          AND a.doc_id < b.doc_id),
      pairs AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
          CAST(sum(CASE WHEN sa.min_hash = sb.min_hash THEN 1 ELSE 0 END)
            AS DOUBLE) / 32 AS ej
          FROM cand
          JOIN sig sa ON sa.doc_id = id_a
          JOIN sig sb ON sb.doc_id = id_b AND sa.hash_idx = sb.hash_idx
          GROUP BY 1, 2) WHERE ej >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.id, e.dst FROM reach r JOIN edges e ON r.m = e.src),
      cc AS (SELECT id AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1)
      SELECT doc_id, cluster_id,
        CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 14))
            AS BIGINT) % 100 < 10 THEN 'val'
          WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 14))
            AS BIGINT) % 100 < 20 THEN 'test'
          ELSE 'train' END AS split
      FROM cc"""))

  // M22 — two-sample Kolmogorov–Smirnov statistic between the 'click'
  // and 'purchase' value distributions: D = sup |F̂_a(v) − F̂_b(v)|,
  // exact. The facts reduce FIRST to per-distinct-value counts (one
  // shuffle, map-side combinable). `value` is a continuous double, so
  // the distinct-value frame is ≈ N rows — the CDF sweep therefore uses
  // Stats.rangePrefixSum (range-partitioned two-pass running sum + the
  // broadcast totals it emits), never an unpartitioned window over the
  // N-row frame. m22b keeps the sequential-window twin on the same
  // oracle as the algebra cross-check. Complements m17's binned PSI
  // with a bin-free exact statistic.
  private def ksPerValue(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).where(col("value").isNotNull &&
      col("event_type").isin("click", "purchase"))
    e.groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("a_cnt"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("b_cnt"))
  }

  private def ksFinal(cum: DataFrame): DataFrame =
    cum.agg(round(max(abs(col("cum_a") / col("n_a")
      - col("cum_b") / col("n_b"))) + lit(1e-9), 6).as("ks_d"),
      max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))

  val m22 = Q("m22_ks_test",
    (s, d) => {
      val cum = graft.operators.Stats.rangePrefixSum(ksPerValue(s, d),
        Seq("value"), Seq("a_cnt" -> "cum_a", "b_cnt" -> "cum_b"))
      ksFinal(cum
        .withColumnRenamed("cum_a_total", "n_a")
        .withColumnRenamed("cum_b_total", "n_b"))
    },
    Some("""WITH g AS (SELECT value,
        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a_cnt,
        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b_cnt
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('click', 'purchase') GROUP BY 1),
      c AS (SELECT value,
        sum(a_cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_a,
        sum(b_cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_b,
        sum(a_cnt) OVER () AS n_a, sum(b_cnt) OVER () AS n_b
      FROM g)
      SELECT round(max(abs(CAST(cum_a AS DOUBLE) / n_a
          - CAST(cum_b AS DOUBLE) / n_b)) + 1e-9, 6) AS ks_d,
        CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
      FROM c"""))

  // M22b — the sequential-window twin of m22: one global running sum
  // over the distinct-value frame. Correct and the simpler plan when
  // value cardinality is bounded (a discretized/binned score); kept on
  // the SAME oracle as the algebra cross-check for the range-partitioned
  // form. On a continuous key at scale, use m22's shape.
  val m22b = Q("m22b_ks_test_window",
    (s, d) => {
      val w = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      ksFinal(ksPerValue(s, d)
        .withColumn("cum_a", sum(col("a_cnt")).over(w))
        .withColumn("cum_b", sum(col("b_cnt")).over(w))
        .withColumn("n_a", sum(col("a_cnt")).over(wAll))
        .withColumn("n_b", sum(col("b_cnt")).over(wAll)))
    },
    Some("""WITH g AS (SELECT value,
        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a_cnt,
        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b_cnt
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('click', 'purchase') GROUP BY 1),
      c AS (SELECT value,
        sum(a_cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_a,
        sum(b_cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_b,
        sum(a_cnt) OVER () AS n_a, sum(b_cnt) OVER () AS n_b
      FROM g)
      SELECT round(max(abs(CAST(cum_a AS DOUBLE) / n_a
          - CAST(cum_b AS DOUBLE) / n_b)) + 1e-9, 6) AS ks_d,
        CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
      FROM c"""))

  // W17 — rolling regression slope: 7-day OLS trend per event type from
  // window SUMS in closed form (n·Σtv − Σt·Σv)/(n·Σtt − (Σt)²) — five
  // running sums over ONE window pass on the already-daily frame; no
  // per-window refit, no iteration. The rolling analogue of m3's global
  // closed-form OLS, and the trend detector a metrics pipeline runs over
  // every series at once.
  val w17 = Q("w17_rolling_slope",
    (s, d) => {
      val daily = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("v"))
        .withColumn("t",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("double"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      daily
        .withColumn("n", count(lit(1)).over(win))
        .withColumn("st", sum(col("t")).over(win))
        .withColumn("sv", sum(col("v")).over(win))
        .withColumn("stv", sum(col("t") * col("v")).over(win))
        .withColumn("stt", sum(col("t") * col("t")).over(win))
        .where(col("n") === 7)
        .select(col("event_type"), col("day"),
          round((col("n") * col("stv") - col("st") * col("sv"))
            / (col("n") * col("stt") - col("st") * col("st"))
            + lit(1e-9), 6).as("slope_7d"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        avg(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      x AS (SELECT event_type, day, v,
        CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS t
      FROM daily),
      w AS (SELECT event_type, day, count(*) OVER win AS n,
        sum(t) OVER win AS st, sum(v) OVER win AS sv,
        sum(t * v) OVER win AS stv, sum(t * t) OVER win AS stt
      FROM x WINDOW win AS (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT event_type, day,
        round((n * stv - st * sv) / (n * stt - st * st) + 1e-9, 6) AS slope_7d
      FROM w WHERE n = 7"""))

  // M24 — AUC-ROC of a score against a binary label (does `value`
  // predict 'purchase' vs 'view'?) via the Mann–Whitney rank identity
  // with midrank tie correction: AUC = (Σ midranks(pos) − n₊(n₊+1)/2)
  // / (n₊·n₋). The facts reduce to per-distinct-score (count, positives)
  // FIRST; midrank = cum_before + (ties+1)/2 comes from ONE range-
  // partitioned prefix sum over the distinct-score frame (m22's rule —
  // the score is continuous, so that frame is ≈ N rows and never rides
  // an unpartitioned window). Counts stay integral through the prefix,
  // so the two-pass form is bit-identical to a sequential sweep. This is
  // THE eval metric for a quality-classifier in a curation pipeline,
  // computed without ever materializing per-row ranks.
  val m24 = Q("m24_auc_score",
    (s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull &&
        col("event_type").isin("purchase", "view"))
      val perScore = e.groupBy(col("value"))
        .agg(count(lit(1)).as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("p"))
      Stats.rangePrefixSum(perScore, Seq("value"),
        Seq("c" -> "cum_c", "p" -> "cum_p"))
        .withColumn("cum_before", (col("cum_c") - col("c")).cast("double"))
        .withColumn("np", col("cum_p_total").cast("double"))
        .withColumn("nn",
          (col("cum_c_total") - col("cum_p_total")).cast("double"))
        .withColumn("rsum_part",
          col("p") * (col("cum_before") + (col("c") + 1) / 2))
        .agg(round((sum(col("rsum_part"))
            - max(col("np")) * (max(col("np")) + 1) / 2)
          / (max(col("np")) * max(col("nn"))) + lit(1e-9), 6).as("auc"),
          max(col("np")).cast("long").as("n_pos"),
          max(col("nn")).cast("long").as("n_neg"))
    },
    Some("""WITH g AS (SELECT value,
        CAST(count(*) AS DOUBLE) AS c,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS DOUBLE) AS p
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('purchase', 'view') GROUP BY 1),
      s AS (SELECT value, c, p,
        coalesce(sum(c) OVER (ORDER BY value
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        sum(p) OVER () AS np, sum(c - p) OVER () AS nn
      FROM g)
      SELECT round((sum(p * (cum_before + (c + 1) / 2))
          - max(np) * (max(np) + 1) / 2) / (max(np) * max(nn)) + 1e-9, 6)
          AS auc,
        CAST(max(np) AS BIGINT) AS n_pos, CAST(max(nn) AS BIGINT) AS n_neg
      FROM s"""))

  // M25 — additive seasonal decomposition (STL-lite): daily total =
  // trend (centered 7-day MA, full windows only) + weekday seasonal
  // (mean detrended value per weekday) + residual. One window pass over
  // the already-daily frame + a ≤7-row broadcast join back; w15's
  // anomaly detector consumes exactly this residual. Weekday numbering
  // differs across engines (Spark 1-7, DuckDB 0-6) but is only ever an
  // internal join key, so the decomposition is engine-identical.
  val m25 = Q("m25_seasonal_decompose",
    (s, d) => {
      val daily = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      // bounded frame: one row per DAY (≤ a few thousand even at decades
      // of history) — unpartitioned centered window safe at any fact size.
      val win = Window.orderBy(col("day")).rowsBetween(-3, 3)
      // ~30-row frame consumed by BOTH the weekday aggregate and the
      // join-back — materialize once, or the events scan + daily groupBy
      // run twice (GC-released checkpoint, not a pinned cache entry).
      val t = daily.withColumn("trend",
        when(count(lit(1)).over(win) === 7, avg(col("v")).over(win)))
        .where(col("trend").isNotNull)
        .localCheckpoint(true)
      val seas = t.groupBy(dayofweek(col("day")).as("dow"))
        .agg(avg(col("v") - col("trend")).as("seasonal"))
      t.join(broadcast(seas), dayofweek(col("day")) === col("dow"))
        .select(col("day"),
          round(col("v") + lit(1e-9), 2).as("v"),
          round(col("trend") + lit(1e-9), 2).as("trend"),
          round(col("seasonal") + lit(1e-9), 2).as("seasonal"),
          round(col("v") - col("trend") - col("seasonal") + lit(1e-9), 2)
            .as("residual"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS v
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      t AS (SELECT day, v,
          CASE WHEN count(*) OVER win = 7 THEN avg(v) OVER win END AS trend
        FROM daily WINDOW win AS (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      s AS (SELECT dayofweek(day) AS dow, avg(v - trend) AS seasonal
        FROM t WHERE trend IS NOT NULL GROUP BY 1)
      SELECT t.day, round(t.v + 1e-9, 2) AS v,
        round(t.trend + 1e-9, 2) AS trend,
        round(s.seasonal + 1e-9, 2) AS seasonal,
        round(t.v - t.trend - s.seasonal + 1e-9, 2) AS residual
      FROM t JOIN s ON s.dow = dayofweek(t.day)
      WHERE t.trend IS NOT NULL"""))

  // T31 — dataset-level overlap diagnostics: one MinHash signature PER
  // SOURCE (min over the source's shingles — the signature union is just
  // `min`, so per-doc sketches merge up for free: the same mergeable-
  // state property as a30's HLL and m20's histogram), then estimated
  // vocabulary Jaccard for all 190 source pairs from a 20×32 frame.
  // This is how a corpus audit answers "which crawls duplicate each
  // other" without any document-level pairing.
  val t31 = Q("t31_source_overlap",
    (s, d) => {
      // Per-doc signatures come from the shuffle-free inline path; the
      // source-level signature is the elementwise min over the source's
      // docs (min-of-mins = min over the source's whole shingle set —
      // the same mergeable-signature property the scaladoc banks on),
      // leaving ONE 20-group aggregate as the only exchange. Both sides
      // of the self-join read that aggregate's exchange once
      // (ReuseExchange) — no materialization job needed.
      val perDoc = Dedup.minHashSignatureArrayInline(
        docs(s, d), "text", "source", 3, 32)
      val sig = perDoc.groupBy(col("source"))
        .agg(array((0 until 32).map(i =>
          min(element_at(col("sig"), i + 1))): _*).as("sig"))
      val l = sig.select(col("source").as("s_a"), col("sig").as("sig_a"))
      val r = sig.select(col("source").as("s_b"), col("sig").as("sig_b"))
      l.join(r, col("s_a") < col("s_b"))
        .select(col("s_a"), col("s_b"),
          round(aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / 32 + lit(1e-9), 6)
            .as("est_jaccard"))
    },
    Some("""WITH toks AS (SELECT source,
        string_split_regex(trim(text), '\s+') AS tk FROM documents),
      sh AS (SELECT DISTINCT source, array_to_string(tk[i:i+2], ' ') AS shingle
        FROM toks, unnest(generate_series(1, len(tk) - 2)) AS g(i)
        WHERE len(tk) >= 3),
      hx AS (SELECT source,
        CAST(('0x' || substr(md5(shingle), 1, 14)) AS BIGINT) % 2147483647
          AS h FROM sh),
      sig AS (SELECT source, i AS hash_idx,
        min((h * ((2654435761 * (i+1)) % 2147483647)
          + ((40503 * (i+1)) % 2147483647)) % 2147483647) AS min_hash
        FROM hx, unnest(generate_series(0, 31)) AS g(i) GROUP BY 1, 2)
      SELECT a.source AS s_a, b.source AS s_b,
        round(CAST(sum(CASE WHEN a.min_hash = b.min_hash THEN 1 ELSE 0 END)
          AS DOUBLE) / 32 + 1e-9, 6) AS est_jaccard
      FROM sig a JOIN sig b ON a.hash_idx = b.hash_idx AND a.source < b.source
      GROUP BY 1, 2"""))

  // A36 — sessionized conversion: st2's gap-sessionization (30-min) and
  // a27's funnel question composed in ONE plan — does session length
  // predict purchase? Session assignment is the same lag+cumsum window
  // (one user-keyed shuffle); per-session reduction and the ≤3-row
  // bucket aggregate ride it with no further wide exchange. The session
  // frame never materializes events twice.
  val a36 = Q("a36_session_conversion",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val flagged = Tables.events(s, d).where(col("ts").isNotNull)
        .withColumn("new_session",
          when(unix_millis(col("ts"))
            - lag(unix_millis(col("ts")), 1).over(w) > 30 * 60 * 1000, 1L)
            .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1L)
              .otherwise(0L)))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sessions = flagged.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
      sessions
        .groupBy(when(col("n_events") === 1, "1")
          .when(col("n_events") <= 4, "2-4").otherwise("5+")
          .as("session_len"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"),
          round(sum(col("converted")).cast("double") / count(lit(1))
            + lit(1e-9), 6).as("conversion_rate"))
    },
    Some("""WITH flagged AS (SELECT user_id, event_id, event_type, ts,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
          WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30 * 60 * 1000 THEN 1
          ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      indexed AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged),
      sessions AS (SELECT user_id, session_id, count(*) AS n_events,
        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM indexed GROUP BY 1, 2)
      SELECT CASE WHEN n_events = 1 THEN '1'
          WHEN n_events <= 4 THEN '2-4' ELSE '5+' END AS session_len,
        count(*) AS n_sessions,
        CAST(sum(converted) AS BIGINT) AS n_converted,
        round(CAST(sum(converted) AS DOUBLE) / count(*) + 1e-9, 6)
          AS conversion_rate
      FROM sessions GROUP BY 1"""))

  // T33 — sequence packing: t23's chunks concatenated in deterministic
  // (doc_id, chunk_idx) order and cut every 512 tokens — the standard
  // pretraining packing step — WITHIN md5 shards (t16's assignment), so
  // packing is embarrassingly parallel per shard and no global ordered
  // window ever forms: the running token cumsum partitions by shard.
  // pack_id = (cum − tokens) DIV capacity makes a chunk straddling a cut
  // belong to the pack where it starts, exactly like concat-then-cut.
  // Output: per-pack fill statistics (the padding-waste audit).
  val t33 = Q("t33_sequence_packing",
    (s, d) => {
      val chunks = TextAnalysis.chunkTokens(docs(s, d), "doc_id", "text",
        chunkLen = 64, stride = 64) // disjoint chunks: pack once, no overlap
        .withColumn("shard",
          pmod(graft.operators.Dedup.md5Hash56(col("doc_id").cast("string")),
            lit(8L)))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("doc_id"), col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunks
        .withColumn("cum", sum(col("chunk_tokens")).over(w))
        .withColumn("pack_id",
          ((col("cum") - col("chunk_tokens")) / 512).cast("long"))
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("n_tokens"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE length(trim(regexp_replace(text, '\s+', ' ', 'g'))) > 0),
      ch AS (SELECT doc_id, CAST(st // 64 AS INT) AS chunk_idx,
          least(n - st, 64) AS chunk_tokens
        FROM (SELECT doc_id, toks, n,
            unnest(generate_series(0, greatest(n - 64 + 64 - 1, 0), 64)) AS st
          FROM (SELECT doc_id, toks, len(toks) AS n FROM t))),
      sh AS (SELECT *,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
            % 8 AS shard FROM ch),
      c AS (SELECT shard, doc_id, chunk_idx, chunk_tokens,
          sum(chunk_tokens) OVER (PARTITION BY shard
            ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING) AS cum
        FROM sh)
      SELECT shard,
        CAST((cum - chunk_tokens) // 512 AS BIGINT) AS pack_id,
        count(*) AS n_chunks,
        CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens
      FROM c GROUP BY 1, 2"""))

  // M26 — calibration curve (reliability diagram) for the m24 score:
  // decile buckets of the score vs the empirical purchase rate, plus
  // each bucket's mean score — whether "higher score ⇒ more likely
  // purchase" actually holds bucket by bucket. Buckets are fixed-width
  // on the score (a plain groupBy — no global ntile sort), the same
  // fixed-bin choice as m20/o12.
  val m26 = Q("m26_calibration_curve",
    (s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull &&
        col("event_type").isin("purchase", "view"))
      e.groupBy(least(floor(col("value") / 50), lit(9L)).cast("int")
          .as("score_bucket"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("value")) + lit(1e-9), 4).as("mean_score"),
          round(avg(when(col("event_type") === "purchase", 1.0)
            .otherwise(0.0)) + lit(1e-9), 6).as("purchase_rate"))
    },
    Some("""SELECT CAST(least(floor(value / 50), 9) AS INT) AS score_bucket,
        count(*) AS n, round(avg(value) + 1e-9, 4) AS mean_score,
        round(avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)
          + 1e-9, 6) AS purchase_rate
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('purchase', 'view') GROUP BY 1"""))

  // A37 — CUBE multi-grain: all four grouping strata of (event_type,
  // cohort) — cells, both one-dimension subtotals, grand total — from
  // ONE shuffle via grouping-sets expansion (a26's ROLLUP sibling; CUBE
  // adds the cross-marginals ROLLUP omits). grouping_id() disambiguates
  // strata; the cohort key is rendered as a string so subtotal-row NULLs
  // normalize identically across engines (a26's convention).
  val a37 = Q("a37_cube_multigrain",
    (s, d) => Tables.events(s, d).where(col("value").isNotNull)
      .cube(col("event_type"),
        pmod(col("user_id"), lit(4)).cast("int").cast("string").as("cohort"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) + lit(1e-9), 2).as("sum_value"),
        grouping_id().as("gid")),
    Some("""SELECT event_type,
        CAST(CAST(user_id % 4 AS INT) AS VARCHAR) AS cohort,
        count(*) AS n, round(sum(value) + 1e-9, 2) AS sum_value,
        GROUPING(event_type, CAST(CAST(user_id % 4 AS INT) AS VARCHAR)) AS gid
      FROM events WHERE value IS NOT NULL
      GROUP BY CUBE(event_type, CAST(CAST(user_id % 4 AS INT) AS VARCHAR))"""))

  // D13 — ISO calendar battery: ISO week (both engines' weekofyear is
  // ISO-8601), ISO year via the THURSDAY RULE — year(week_start + 3
  // days) — rather than an engine-specific isoyear function (Spark has
  // none), Monday week start, quarter, month end. The distinct-day frame
  // is tiny; the point is the cross-engine-identical calendar algebra
  // every period rollup in the catalog leans on.
  val d13 = Q("d13_iso_calendar",
    (s, d) => Tables.events(s, d)
      .select(to_date(col("ts")).as("day"),
        date_trunc("week", col("ts")).cast("date").as("week_start"))
      .distinct()
      .select(col("day"),
        year(date_add(col("week_start"), 3)).cast("long").as("iso_year"),
        weekofyear(col("day")).cast("long").as("iso_week"),
        quarter(col("day")).cast("long").as("quarter"),
        col("week_start"),
        last_day(col("day")).as("month_end")),
    Some("""SELECT DISTINCT CAST(ts AS DATE) AS day,
        CAST(year(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
          + INTERVAL 3 DAY) AS BIGINT) AS iso_year,
        CAST(weekofyear(ts) AS BIGINT) AS iso_week,
        CAST(quarter(ts) AS BIGINT) AS quarter,
        CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
        last_day(CAST(ts AS DATE)) AS month_end
      FROM events"""))

  // W21 — maximum drawdown per event type: w6's cumprod equity curve,
  // per-type, with a running peak and the max peak-to-trough loss — the
  // backtest risk metric (reference M10 domain) the equity curve exists
  // to feed. Running max + cumulative product are windows over the
  // already-daily per-type frame; the final reduction is a ≤5-row
  // aggregate.
  val w21 = Q("w21_max_drawdown",
    (s, d) => {
      val daily = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("event_date"))
        .agg(avg(col("value")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_date"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("r", (col("v") - lag(col("v"), 1).over(w))
          / lag(col("v"), 1).over(w))
        .where(col("r").isNotNull)
        .withColumn("equity", exp(sum(log(lit(1) + col("r"))).over(cum)))
        .withColumn("peak", max(col("equity")).over(cum))
        .groupBy(col("event_type"))
        .agg(round(max(lit(1) - col("equity") / col("peak")) + lit(1e-9), 6)
          .as("max_drawdown"),
          round(min(col("equity")) + lit(1e-9), 6).as("min_equity"),
          round(max(col("equity")) + lit(1e-9), 6).as("max_equity"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS event_date,
        avg(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      ret AS (SELECT event_type, event_date,
        (v - lag(v) OVER w) / lag(v) OVER w AS r FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY event_date)),
      eq AS (SELECT event_type, event_date,
        exp(sum(ln(1 + r)) OVER (PARTITION BY event_type ORDER BY event_date
          ROWS UNBOUNDED PRECEDING)) AS equity
      FROM ret WHERE r IS NOT NULL),
      dd AS (SELECT event_type, equity,
        max(equity) OVER (PARTITION BY event_type ORDER BY event_date
          ROWS UNBOUNDED PRECEDING) AS peak FROM eq)
      SELECT event_type,
        round(max(1 - equity / peak) + 1e-9, 6) AS max_drawdown,
        round(min(equity) + 1e-9, 6) AS min_equity,
        round(max(equity) + 1e-9, 6) AS max_equity
      FROM dd GROUP BY 1"""))

  // M27 — Spearman rank correlation (tie-corrected): Pearson of MIDRANKS,
  // with midranks computed from per-distinct-value counts + one range-
  // partitioned prefix sum (m24's rank-free construction, applied per
  // variable) and joined back — no per-row rank() materialization and no
  // unpartitioned window: `y` is a continuous average, so its distinct
  // frame is ≈ |users| rows. Measures monotone (not just linear, m1)
  // association: here, whether more-active users have systematically
  // higher average values.
  val m27 = Q("m27_spearman_corr",
    (s, d) => {
      val u = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("double").as("x"),
          avg(col("value")).as("y"))
        // feeds both rank frames and the join-back — one materialization
        .localCheckpoint(true)
      def midranks(frame: DataFrame, vCol: String): DataFrame = {
        val g = frame.groupBy(col(vCol)).agg(count(lit(1)).as("c"))
        Stats.rangePrefixSum(g, Seq(vCol), Seq("c" -> "cum"))
          .select(col(vCol), ((col("cum") - col("c")).cast("double")
            + (col("c") + 1) / 2).as(s"mr_$vCol"))
      }
      u.join(midranks(u, "x"), "x").join(midranks(u, "y"), "y")
        .agg(round(corr(col("mr_x"), col("mr_y")) + lit(1e-9), 6)
          .as("spearman"), count(lit(1)).as("n"))
    },
    Some("""WITH u AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS x,
        avg(value) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1),
      rx AS (SELECT x, CAST(count(*) AS DOUBLE) AS c,
        CAST(sum(count(*)) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE) AS cb
      FROM u GROUP BY x),
      ry AS (SELECT y, CAST(count(*) AS DOUBLE) AS c,
        CAST(sum(count(*)) OVER (ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE) AS cb
      FROM u GROUP BY y),
      j AS (SELECT u.user_id,
        coalesce(rx.cb, 0) + (rx.c + 1) / 2 AS mrx,
        coalesce(ry.cb, 0) + (ry.c + 1) / 2 AS mry
      FROM u JOIN rx ON rx.x = u.x JOIN ry ON ry.y = u.y)
      SELECT round(corr(mrx, mry) + 1e-9, 6) AS spearman, count(*) AS n
      FROM j"""))

  val all: Seq[Q] = Seq(t23, t24, t25, t26, j15, g3, a29b, m20, mm3, mm3b,
    mm4, ann3, t27, o12, g4, t28, t29, t30, m22, m22b, w17, m24, m25, t31,
    a36, t33, m26, a37, d13, w21, m27)
}
