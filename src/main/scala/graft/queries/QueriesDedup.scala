package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ClassifierFunctions => Cls, DedupFunctions => D, RelevanceFunctions => R, SamplingFunctions => Sam, SimilarityFunctions => S, TextFunctions => T, UrlFunctions => U}
import graft.ops.{AsOfJoinOps, CrossValidationOps, EventAnalyticsOps, FeatureOps, GraphOps, HistoryOps, MacroOps, RangeJoinOps, SkewOps, ValidationOps}


/** Registry queries: dedup, near-dup, linkage, sampling/splits, skew diagnostics. Split from the former monolithic
  * Queries.scala (r12) — definitions unchanged.
  */
private[queries] object QueriesDedup {
  import Q.{money2, prices, pricesSql, revenueDec, t}
  import QHelpers._

  val defs: Seq[QueryDef] = Seq(

    QueryDef("d23_temporal_split",
      // walk-forward split with an embargo buffer (purged backtest
      // split): orders before the cutoff train, a 30-day quarantine
      // absorbs autocorrelation leakage, the rest test — plus the
      // leakage audit: how many of each split's customers also appear
      // in train (entity overlap is expected for a temporal split;
      // the audit MEASURES it instead of pretending a hash split's
      // disjointness). One scan-local projection + two key-sized aggs.
      (s, dir) => {
        val cutoff = lit("1999-01-01").cast("date")
        val o = t(s, dir, "orders").select(col("o_custkey"),
          Sam.temporalSplit(to_date(col("o_orderdate")), cutoff, 30).as("split"))
        val train = o.filter(col("split") === "train")
          .select("o_custkey").distinct()
        val perSplit = o.groupBy("split").agg(
          count(lit(1)).as("n_orders"),
          countDistinct("o_custkey").as("n_customers"))
        val overlap = o.select("split", "o_custkey").distinct()
          .join(train, Seq("o_custkey"), "left_semi")
          .groupBy("split").agg(count(lit(1)).as("n_train_overlap"))
        perSplit.join(overlap, Seq("split"), "left")
          .select(col("split"), col("n_orders"), col("n_customers"),
            coalesce(col("n_train_overlap"), lit(0L)).as("n_train_overlap"))
          .orderBy("split")
      },
      Some("""WITH o AS (SELECT o_custkey,
             |  CASE WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01' THEN 'train'
             |       WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-31' THEN 'embargo'
             |       WHEN o_orderdate IS NOT NULL THEN 'test' END AS split
             |  FROM orders),
             |tr AS (SELECT DISTINCT o_custkey FROM o WHERE split = 'train'),
             |ps AS (SELECT split, count(*) AS n_orders,
             |         count(DISTINCT o_custkey) AS n_customers FROM o GROUP BY 1),
             |ov AS (SELECT d.split, count(*) AS n_train_overlap
             |       FROM (SELECT DISTINCT split, o_custkey FROM o) d
             |       JOIN tr USING (o_custkey) GROUP BY 1)
             |SELECT p.split, p.n_orders, p.n_customers,
             |  COALESCE(v.n_train_overlap, 0) AS n_train_overlap
             |FROM ps p LEFT JOIN ov v USING (split) ORDER BY p.split""".stripMargin)),

QueryDef("d24_jaro_linkage",
      // graded record-linkage pairs ([[DedupFunctions.jaroWinklerPairs]],
      // native codegen'd [[graft.functions.JaroWinkler]] — SQL
      // `jaro_winkler`): the d15 planted titles rescored with the
      // front-weighted 0..1 comparator instead of a hard edit budget —
      // typo'd twins AND numbered series neighbors all clear θ=0.9,
      // ranked by how much of the front of the string agrees. Blocking
      // replays d15's q-gram + df-cap shape plus the PROVABLE
      // length-ratio cut (min/max ≥ 5θ−4 = 0.5). The kernel is
      // arithmetic-pinned to DuckDB's jaro_winkler_similarity
      // (bytes, window max/2−1, int-halved transpositions, boost only
      // past 0.7, prefix cap 4) — fuzz-verified bit-equal over 20k
      // random pairs — so the ≥θ filter and the 6dp-rounded score
      // hash-match with no tolerance.
      (s, dir) => {
        val titles = docs(s, dir).filter(col("doc_id") < 60)
          .select(col("doc_id"),
            when(col("doc_id") % 4 === 0,
              concat(lit("stochastic gradient descent overview "),
                expr("doc_id div 4")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("stochastic gradient descent overviev "),
                expr("doc_id div 4")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("complete treatise on offshore sailing "),
                expr("doc_id div 4")))
            .otherwise(
              concat(lit("cmplete treatise on offshore sailng "),
                expr("doc_id div 4")))
            .as("title"))
        D.jaroWinklerPairs(titles, "doc_id", "title",
            threshold = 0.9, q = 3, maxDf = 50L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH titles AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 4 = 0
             |           THEN 'stochastic gradient descent overview ' || CAST(doc_id // 4 AS VARCHAR)
             |         WHEN doc_id % 4 = 1
             |           THEN 'stochastic gradient descent overviev ' || CAST(doc_id // 4 AS VARCHAR)
             |         WHEN doc_id % 4 = 2
             |           THEN 'complete treatise on offshore sailing ' || CAST(doc_id // 4 AS VARCHAR)
             |         ELSE 'cmplete treatise on offshore sailng ' || CAST(doc_id // 4 AS VARCHAR)
             |    END AS title
             |  FROM documents WHERE doc_id < 60),
             |g0 AS (
             |  SELECT doc_id, length(title) AS len, unnest(
             |    CASE WHEN length(title) <= 3 THEN [title]
             |         ELSE list_distinct(list_transform(
             |           generate_series(1, length(title) - 2),
             |           i -> substr(title, i, 3))) END) AS g
             |  FROM titles),
             |oc AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 50),
             |gf AS (SELECT g0.* FROM g0 LEFT JOIN oc USING (g) WHERE oc.g IS NULL),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM gf a JOIN gf b ON a.g = b.g
             |  WHERE a.doc_id < b.doc_id
             |    AND least(a.len, b.len) * 1.0 / greatest(a.len, b.len) >= 0.5),
             |v AS (
             |  SELECT c.id_a, c.id_b,
             |         jaro_winkler_similarity(ta.title, tb.title) AS sim
             |  FROM cand c
             |  JOIN titles ta ON ta.doc_id = c.id_a
             |  JOIN titles tb ON tb.doc_id = c.id_b)
             |SELECT id_a, id_b, round(sim, 6) AS jw FROM v WHERE sim >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("d25_tfidf_cosine",
      // sparse TF-IDF cosine pairs ([[RelevanceFunctions
      // .tfidfCosinePairs]]) over a bounded slice — the synthetic
      // corpus' tiny vocabulary makes every token a hub (Σ df² ~ N²),
      // so the query bounds the input the way d15/d24 do; on real text
      // the maxDf cap is the blocking. 6dp round absorbs libm-ln and
      // sum-order ulps (the a12 convention).
      (s, dir) => R.tfidfCosinePairs(
          docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text",
          minSim = 0.5, maxDf = 1000L)
        .orderBy("id_a", "id_b"),
      Some("""WITH tk AS (
             |  SELECT doc_id AS id,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |  FROM documents WHERE doc_id < 300),
             |tk2 AS (SELECT id, tok FROM tk WHERE tok <> ''),
             |tf AS (SELECT id, tok, count(*) AS tf FROM tk2 GROUP BY 1, 2),
             |nn AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS n FROM tk2),
             |fr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
             |       HAVING count(*) <= 1000),
             |w AS (
             |  SELECT tf.id, tf.tok, tf.tf * ln(nn.n / fr.df) AS w
             |  FROM tf JOIN fr USING (tok) CROSS JOIN nn),
             |nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
             |dt AS (
             |  SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
             |  FROM w a JOIN w b ON a.tok = b.tok AND a.id < b.id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(dot / (x.nrm * y.nrm), 6) AS sim
             |FROM dt JOIN nrm x ON dt.id_a = x.id JOIN nrm y ON dt.id_b = y.id
             |WHERE dot / (x.nrm * y.nrm) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("d21_epoch_blend",
      // epoch-weighted mixture ([[SamplingFunctions.epochBlend]], the
      // Dolma/Megatron data-recipe step): high-value sources repeat
      // 2 full epochs + a hash-fixed quarter a third time, mid sources
      // exactly once, the tail keeps a fixed half. Scan-local explode,
      // md5 bucketing on the stringified id so the oracle replays the
      // fractional cut exactly.
      (s, dir) => Sam.epochBlend(docs(s, dir).select(col("doc_id"), col("source")),
          "doc_id",
          when(col("source").isin("src0", "src1", "src2"), 2.25)
            .when(col("source").isin("src3", "src4"), 1.0)
            .otherwise(0.5),
          hash = D.md5Hash60)
        .orderBy("doc_id", "copy"),
      Some("""WITH e AS (
             |  SELECT doc_id, source,
             |    CASE WHEN source IN ('src0','src1','src2') THEN 2.25
             |         WHEN source IN ('src3','src4') THEN 1.0
             |         ELSE 0.5 END AS eps,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |      % 1048576 AS b
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source,
             |    CAST(floor(eps) AS BIGINT) +
             |      CASE WHEN CAST(b AS DOUBLE) < (eps - floor(eps)) * 1048576
             |           THEN 1 ELSE 0 END AS n
             |  FROM e)
             |SELECT doc_id, source, copy FROM (
             |  SELECT doc_id, source, unnest(generate_series(1, n)) AS copy
             |  FROM c WHERE n > 0)
             |ORDER BY doc_id, copy""".stripMargin)),

QueryDef("d22_containment",
      // asymmetric containment ([[DedupFunctions.containmentPairs]]):
      // the corpus has no planted quotes, so the query plants them —
      // every %25th doc contributes an excerpt (chars 50..209 verbatim)
      // under a shifted id. Each excerpt must flag against its source
      // (containment ≥ 0.7 of ITS fingerprints) while the source never
      // flags against the excerpt — the asymmetry Jaccard misses.
      // md5-hash winnowing (the t4 oracle convention) so the oracle
      // replays fingerprints → df-cap → pair join → ratio end to end.
      // maxDocFreq = 50 ≈ 1% of the corpus: this synthetic vocabulary
      // is tiny, so 8-char windows repeat across hundreds of docs —
      // at the 1000 default the pair join fans out 149M rows at sf0.1
      // (measured) vs 1.6M at 50; planted-pair containment is
      // unaffected (excerpt fps ⊂ source fps under any cap).
      (s, dir) => {
        val d = docs(s, dir)
        val planted = d.select(col("doc_id"), col("text"))
          .unionAll(d.filter(col("doc_id") % 25 === 0)
            .select((col("doc_id") + 200000L).as("doc_id"),
              substring(col("text"), 50, 160).as("text")))
        D.containmentPairs(planted, "doc_id", "text", threshold = 0.7,
            maxDocFreq = 50, hash = c => md5(c.cast("binary")))
          .orderBy("contained_id", "container_id")
      },
      Some("""WITH alld AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 200000, substring(text, 50, 160)
             |  FROM documents WHERE doc_id % 25 = 0),
             |norm AS (
             |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
             |  FROM alld),
             |h AS (
             |  SELECT doc_id,
             |    CASE WHEN length(t) - 7 <= 0 THEN [md5(t)]
             |         ELSE list_transform(generate_series(1, length(t) - 7),
             |                i -> md5(substring(t, CAST(i AS INTEGER), 8))) END AS hs
             |  FROM norm),
             |w AS (
             |  SELECT doc_id,
             |    CASE WHEN len(hs) - 3 <= 0 THEN [list_aggregate(hs, 'min')]
             |         ELSE list_transform(generate_series(1, len(hs) - 3),
             |                i -> list_aggregate(hs[i:i+3], 'min')) END AS mins
             |  FROM h),
             |fp AS (
             |  SELECT doc_id, f
             |  FROM (SELECT doc_id, unnest(list_distinct(mins)) AS f FROM w)),
             |hot AS (SELECT f FROM fp GROUP BY f HAVING count(*) > 50),
             |kept AS (SELECT * FROM fp WHERE f NOT IN (SELECT f FROM hot)),
             |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
             |sh AS (
             |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             |         count(*) AS s
             |  FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT contained_id, container_id,
             |       round(CAST(s AS DOUBLE) / sz.n, 6) AS containment
             |FROM sh JOIN sz ON sz.doc_id = sh.contained_id
             |WHERE round(CAST(s AS DOUBLE) / sz.n, 6) >= 0.7
             |ORDER BY contained_id, container_id""".stripMargin)),

QueryDef("d1_exact_dedup",
      (s, dir) => D.dedupExact(
          docs(s, dir).select(col("doc_id"), T.fingerprint(col("text")).as("fingerprint")),
          "doc_id", "fingerprint")
        .orderBy("doc_id"),
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fingerprint
             |  FROM documents)
             |SELECT doc_id, fingerprint FROM fp
             |QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
             |ORDER BY doc_id""".stripMargin)),

QueryDef("d2_dup_groups",
      (s, dir) => D.exactDupGroups(
          docs(s, dir).select(col("doc_id"), T.fingerprint(col("text")).as("fingerprint")),
          "doc_id", "fingerprint")
        .orderBy("fingerprint"),
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fingerprint
             |  FROM documents)
             |SELECT fingerprint, count(*) AS group_size, min(doc_id) AS canonical_id
             |FROM fp GROUP BY 1 HAVING count(*) > 1
             |ORDER BY fingerprint""".stripMargin)),

QueryDef("d3_jaccard_pairs",
      // maxDf=1000 is the boilerplate-shingle skew cap; at the sf0.01
      // oracle scale df <= n_docs = 500 so the cap provably never binds
      // and the capless DuckDB oracle still matches exactly.
      (s, dir) => D.jaccardPairs(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 1000L)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             |         count(*) AS shared
             |  FROM e a JOIN e b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4)
             |SELECT id_a, id_b,
             |       round(CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE), 6) AS jaccard
             |FROM p
             |WHERE CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("m1b_minhash_md5",
      // the MinHash-LSH pipeline verified END-TO-END: the md5-based
      // 60-bit hash is computable identically in DuckDB, so signature,
      // banding, candidate generation AND jaccard verification all
      // hash-check. Production keeps the xxhash64 default (m1).
      (s, dir) => D.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, threshold = 0.7,
          hash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          bucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |sig AS (
             |  SELECT doc_id, shingles,
             |    list_transform(generate_series(0, 15), i ->
             |      list_aggregate(list_transform(shingles, s ->
             |        CAST(('0x' || substring(md5(s || '#' || i), 1, 15)) AS BIGINT)), 'min')) AS sg
             |  FROM sh),
             |banded AS (
             |  SELECT doc_id, b,
             |    CAST(('0x' || substring(md5(array_to_string(sg[b*4+1:b*4+4], ',') || '#b#' || b), 1, 15)) AS BIGINT) AS bucket
             |  FROM sig, UNNEST([0, 1, 2, 3]) AS t(b)),
             |cands AS (
             |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             |  FROM banded x JOIN banded y ON x.b = y.b AND x.bucket = y.bucket
             |  WHERE x.doc_id < y.doc_id),
             |verified AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(len(a.shingles) + len(b.shingles)
             |         - len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
             |      / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
             |  FROM cands c
             |  JOIN sh a ON a.doc_id = c.id_a
             |  JOIN sh b ON b.doc_id = c.id_b)
             |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
             |FROM verified WHERE jaccard >= 0.7
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("m3_minhash_incremental",
      // INCREMENTAL near-dup check — a "new batch" (odd ids) against
      // the "already-ingested corpus" (even ids) without the
      // existing×existing self-join: per-side signatures + a banded
      // join BETWEEN the band tables, verify on candidates. The oracle
      // shares m1b's signature CTEs and swaps the ordering filter for
      // the side split.
      (s, dir) => {
        val d = docs(s, dir)
        def sh(f: org.apache.spark.sql.DataFrame) = f.select(
          col("doc_id").as("id"), D.wordShingles(col("text"), 3).as("shingles"))
        D.minhashLshPairsAgainst(
            sh(d.filter(col("doc_id") % 2 === 0)),
            sh(d.filter(col("doc_id") % 2 === 1)),
            numHashes = 16, bands = 4, threshold = 0.7,
            hash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
            bucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |sig AS (
             |  SELECT doc_id, shingles,
             |    list_transform(generate_series(0, 15), i ->
             |      list_aggregate(list_transform(shingles, s ->
             |        CAST(('0x' || substring(md5(s || '#' || i), 1, 15)) AS BIGINT)), 'min')) AS sg
             |  FROM sh),
             |banded AS (
             |  SELECT doc_id, b,
             |    CAST(('0x' || substring(md5(array_to_string(sg[b*4+1:b*4+4], ',') || '#b#' || b), 1, 15)) AS BIGINT) AS bucket
             |  FROM sig, UNNEST([0, 1, 2, 3]) AS t(b)),
             |cands AS (
             |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             |  FROM banded x JOIN banded y ON x.b = y.b AND x.bucket = y.bucket
             |  WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
             |verified AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(len(a.shingles) + len(b.shingles)
             |         - len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
             |      / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
             |  FROM cands c
             |  JOIN sh a ON a.doc_id = c.id_a
             |  JOIN sh b ON b.doc_id = c.id_b)
             |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
             |FROM verified WHERE jaccard >= 0.7
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("m1_minhash_pairs",
      (s, dir) => D.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 3, numHashes = 32, bands = 8, threshold = 0.7)
        .orderBy("id_a", "id_b"),
      None),

QueryDef("m2_simhash_pairs",
      (s, dir) => D.simhashPairs(docs(s, dir), "doc_id", "text", n = 3, maxHamming = 3)
        .orderBy("id_a", "id_b"),
      None),

QueryDef("m2b_simhash_md5",
      // the SimHash pipeline (per-bit votes -> signature -> 16-bit chunk
      // blocking -> hamming verify) hash-checked end-to-end via the
      // engine-shared md5 hash; production keeps xxhash64 (m2).
      (s, dir) => D.simhashPairs(docs(s, dir), "doc_id", "text",
          n = 3, maxHamming = 3, hash = D.md5Hash60)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |hv AS (
             |  SELECT doc_id,
             |    list_transform(shingles, s ->
             |      CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_aggregate(list_transform(generate_series(0, 63), j ->
             |      CASE WHEN list_aggregate(list_transform(hs, h ->
             |             CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0
             |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END), 'sum') AS sg
             |  FROM hv),
             |banded AS (
             |  SELECT doc_id, sg, c, (sg >> (c * 16)) & 65535 AS key
             |  FROM sig, UNNEST([0, 1, 2, 3]) AS t(c)),
             |cands AS (
             |  SELECT DISTINCT x.doc_id AS id_a, x.sg AS sig_a,
             |                  y.doc_id AS id_b, y.sg AS sig_b
             |  FROM banded x JOIN banded y ON x.c = y.c AND x.key = y.key
             |  WHERE x.doc_id < y.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
             |FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("d5_hash_split",
      // deterministic train/valid/test carving: split membership is a
      // pure hash of the stable doc id — reproducible across runs,
      // partitionings, and ENGINES (the md5-based hash lets DuckDB
      // recompute the identical assignment, which is the whole point:
      // every system touching the corpus agrees on the split).
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          graft.functions.SamplingFunctions.splitColumn(
            col("doc_id").cast("string"), pctTrain = 80, pctValid = 10,
            hash = D.md5Hash60).as("split"))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split"),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |    CASE WHEN bucket < 80 THEN 'train'
             |         WHEN bucket < 90 THEN 'valid'
             |         ELSE 'test' END AS split
             |  FROM b)
             |SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM s GROUP BY split ORDER BY split""".stripMargin)),

QueryDef("d6_stratified_sample",
      // class-rebalancing: the dominant language keeps 10% while the
      // rest keep 50% — membership a pure row-local hash predicate
      // (pushes to the scan, no shuffle, no sampling state), md5-keyed
      // so DuckDB reproduces the identical kept-set.
      (s, dir) => {
        val d = docs(s, dir).withColumn("k", col("doc_id").cast("string"))
        Sam.stratifiedSampleByHash(d, "k", "lang",
          Map("en" -> 100), defaultPermille = 500, hash = D.md5Hash60)
          .groupBy("lang").agg(count(lit(1)).as("n"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy("lang")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, lang,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS bucket
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, lang FROM b
             |  WHERE bucket < CASE WHEN lang = 'en' THEN 100 ELSE 500 END)
             |SELECT lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM s GROUP BY lang ORDER BY lang""".stripMargin)),

QueryDef("d8_source_cap",
      // per-domain cap (Gopher/C4 crawl hygiene): at most 15 documents
      // per source, first-by-id — one deterministic window, rank a pure
      // function of column values.
      (s, dir) => Sam.capPerGroup(docs(s, dir), "source", "doc_id", k = 15)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15
             |ORDER BY doc_id""".stripMargin)),

QueryDef("d9_temperature_sample",
      // multilingual-LM temperature sampling (rates ∝ n^α, α = 0.5,
      // 40% target): data-derived per-language keep rates, applied as
      // the engine-portable md5 hash filter; the oracle re-derives the
      // identical rates and membership. 6dp rate rounding absorbs
      // pow/sum ulp differences across engines.
      (s, dir) => Sam.temperatureSample(
          docs(s, dir).withColumn("_k", col("doc_id").cast("string")),
          "_k", "lang", alpha = 0.5, targetFraction = 0.4,
          hash = D.md5Hash60(_))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang"),
      Some("""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot,
             |             sum(pow(CAST(n AS DOUBLE), 0.5)) AS pw FROM n),
             |r AS (SELECT lang, round(least(1.0,
             |        0.4 * tot * pow(CAST(n AS DOUBLE), 0.5) / pw
             |          / CAST(n AS DOUBLE)), 6) AS rate
             |      FROM n, t),
             |k AS (
             |  SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
             |  WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |          % 1000000 < rate * 1e6)
             |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM k GROUP BY 1 ORDER BY lang""".stripMargin)),

QueryDef("d11_grouped_split",
      // leakage-safe split carving: the split key is the SOURCE, not
      // the doc id, so every document of a domain lands in the same
      // split — near-duplicates within a domain can never straddle
      // train/test. Membership stays the same pure md5-hash predicate
      // as d5; the oracle checks each source maps to exactly one split.
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), col("source"),
          graft.functions.SamplingFunctions.splitColumn(
            col("source"), pctTrain = 80, pctValid = 10,
            hash = D.md5Hash60).as("split"))
        .groupBy("split").agg(count(lit(1)).as("n_docs"),
          count_distinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("min_id"))
        .orderBy("split"),
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |    CAST(('0x' || substring(md5(source), 1, 15)) AS BIGINT) % 100 AS bucket
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, source,
             |    CASE WHEN bucket < 80 THEN 'train'
             |         WHEN bucket < 90 THEN 'valid'
             |         ELSE 'test' END AS split
             |  FROM b)
             |SELECT split, count(*) AS n_docs,
             |       count(DISTINCT source) AS n_sources, min(doc_id) AS min_id
             |FROM s GROUP BY split ORDER BY split""".stripMargin)),

QueryDef("d12_token_budget",
      // token-budget mixture downsampling: every source keeps rate
      // min(1, 1300 / its token mass) — over-budget sources thin toward
      // 1300 kept tokens, under-budget ones keep everything — applied
      // as the engine-portable md5 hash predicate. The oracle re-derives
      // the identical 6dp rates and membership from the same token CTE
      // d10 already hash-matches.
      (s, dir) => {
        val d = docs(s, dir)
          .select(col("doc_id"), col("source"),
            T.tokenCount(col("text")).as("n_tok"))
          .withColumn("_k", col("doc_id").cast("string"))
        Sam.tokenBudgetSample(d, "_k", "source", "n_tok", budgetTokens = 1300L,
            hash = D.md5Hash60(_))
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("kept_tokens"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy("source")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
             |  FROM documents),
             |r AS (SELECT source,
             |        round(least(1.0, 1300.0 / CAST(sum(n_tok) AS DOUBLE)), 6) AS rate
             |      FROM b GROUP BY 1),
             |k AS (
             |  SELECT b.doc_id, b.source, b.n_tok FROM b JOIN r USING (source)
             |  WHERE CAST(('0x' || substring(md5(CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |          % 1000000 < rate * 1e6)
             |SELECT source, count(*) AS n_kept,
             |       CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
             |       min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

QueryDef("d13_cluster_keep_best",
      // quality-canonical near-dup dedup: exact-jaccard clusters (d3's
      // pairs, d7's transitive closure) keep their HIGHEST-quality
      // member (min-id tiebreak) instead of min-id — the survivor of a
      // boilerplate cluster is its best rendering, not a crawl
      // accident. Oracle stitches the three already-hash-matched CTE
      // families and replays the argmax with a window.
      (s, dir) => {
        val d = docs(s, dir)
        val scored = d.select(col("doc_id"),
          T.qualityScore(col("text")).as("q"))
        val pairs = D.jaccardPairs(d, "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 1000L)
        D.keepBestPerCluster(scored, pairs, "doc_id", "q")
          .select(col("doc_id"), round(col("q"), 6).as("q"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             |         count(*) AS shared
             |  FROM ex a JOIN ex b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |v AS (
             |  SELECT id_a, id_b FROM p
             |  WHERE CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) >= 0.8),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM v
             |          UNION SELECT id_b, id_a FROM v),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT reach.id, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src),
             |cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             |m AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / length(text)
             |         END AS punct_ratio,
             |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |           x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','with','as','at','by'], x))) AS DOUBLE)
             |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stopword_ratio
             |  FROM documents),
             |q0 AS (SELECT doc_id,
             |  (least(CAST(n_tok AS DOUBLE) / 20.0, 1.0) * 0.4
             |   + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.3
             |   + least(stopword_ratio * 5.0, 1.0) * 0.3) * 100.0 AS q
             |FROM m),
             |ranked AS (
             |  SELECT cc.id,
             |    row_number() OVER (PARTITION BY cc.component ORDER BY q0.q DESC, cc.id) AS rn
             |  FROM cc JOIN q0 ON q0.doc_id = cc.id),
             |doomed AS (SELECT id FROM ranked WHERE rn > 1)
             |SELECT doc_id, round(q, 6) AS q FROM q0
             |WHERE doc_id NOT IN (SELECT id FROM doomed)
             |ORDER BY doc_id""".stripMargin)),

QueryDef("d14_line_dedup",
      // C4-style duplicate-LINE removal ([[DedupFunctions
      // .removeDuplicateLines]]): boilerplate dies line-by-line inside
      // documents instead of dropping whole pages. The synthetic docs
      // are single-line and all-distinct, so the query plants the
      // boilerplate deterministically (cookie header on doc_id%3,
      // legal footer on doc_id%2, a short "--" separator everywhere —
      // below minChars, so it must SURVIVE everywhere); after removal
      // each planted line exists only at its lowest (doc, pos) and
      // every original text line is untouched. Both engines build the
      // same planted corpus, so the oracle replays end-to-end.
      (s, dir) => {
        val d = docs(s, dir)
        val planted = d.select(col("doc_id"),
          concat_ws("\n",
            when(col("doc_id") % 3 === 0,
              lit("COOKIE NOTICE: this site uses cookies to improve your experience")),
            lit("--"),
            col("text"),
            when(col("doc_id") % 2 === 0,
              lit("(c) example.com - all rights reserved - terms apply")))
            .as("text"))
        D.removeDuplicateLines(planted, "doc_id", "text", minChars = 10)
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    CASE WHEN doc_id % 3 = 0 THEN 'COOKIE NOTICE: this site uses cookies to improve your experience' END,
             |    '--',
             |    text,
             |    CASE WHEN doc_id % 2 = 0 THEN '(c) example.com - all rights reserved - terms apply' END) AS text
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id, generate_subscripts(ls, 1) - 1 AS pos, unnest(ls) AS line
             |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted)),
             |keyed AS (SELECT doc_id, pos, line, trim(line) AS k FROM lines),
             |keep AS (
             |  SELECT k, doc_id AS kid, pos AS kpos FROM (
             |    SELECT k, doc_id, pos,
             |           row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
             |    FROM keyed WHERE length(k) >= 10) WHERE rn = 1),
             |kept AS (
             |  SELECT l.doc_id, l.pos, l.line
             |  FROM keyed l LEFT JOIN keep ON l.k = keep.k
             |  WHERE length(l.k) < 10 OR (l.doc_id = keep.kid AND l.pos = keep.kpos)),
             |rebuilt AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
             |  FROM kept GROUP BY doc_id)
             |SELECT p.doc_id, coalesce(r.text, '') AS text
             |FROM planted p LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY p.doc_id""".stripMargin)),

QueryDef("d15_title_dedup",
      // bounded-edit-distance near-dup pairs ([[DedupFunctions
      // .editDistancePairs]]) — the short-string dedup Jaccard is too
      // coarse for. The synthetic docs have no titles, so the query
      // plants them (typo'd twins at distance 1 and 2, plus numbered
      // series whose neighbors differ by a digit) over doc_id < 60;
      // candidates block on shared char trigrams (q-gram lemma — see
      // the operator doc), far grams df-capped, Levenshtein verified.
      // Both engines build the same titles and replay end-to-end.
      (s, dir) => {
        val titles = docs(s, dir).filter(col("doc_id") < 60)
          .select(col("doc_id"),
            when(col("doc_id") % 4 === 0,
              concat(lit("stochastic gradient descent overview "),
                expr("doc_id div 4")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("stochastic gradient descent overviev "),
                expr("doc_id div 4")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("complete treatise on offshore sailing "),
                expr("doc_id div 4")))
            .otherwise(
              concat(lit("cmplete treatise on offshore sailng "),
                expr("doc_id div 4")))
            .as("title"))
        D.editDistancePairs(titles, "doc_id", "title",
            maxDist = 2, q = 3, maxDf = 50L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH titles AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 4 = 0
             |           THEN 'stochastic gradient descent overview ' || CAST(doc_id // 4 AS VARCHAR)
             |         WHEN doc_id % 4 = 1
             |           THEN 'stochastic gradient descent overviev ' || CAST(doc_id // 4 AS VARCHAR)
             |         WHEN doc_id % 4 = 2
             |           THEN 'complete treatise on offshore sailing ' || CAST(doc_id // 4 AS VARCHAR)
             |         ELSE 'cmplete treatise on offshore sailng ' || CAST(doc_id // 4 AS VARCHAR)
             |    END AS title
             |  FROM documents WHERE doc_id < 60),
             |g0 AS (
             |  SELECT doc_id, length(title) AS len, unnest(
             |    CASE WHEN length(title) <= 3 THEN [title]
             |         ELSE list_distinct(list_transform(
             |           generate_series(1, length(title) - 2),
             |           i -> substr(title, i, 3))) END) AS g
             |  FROM titles),
             |oc AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 50),
             |gf AS (SELECT g0.* FROM g0 LEFT JOIN oc USING (g) WHERE oc.g IS NULL),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM gf a JOIN gf b ON a.g = b.g
             |  WHERE a.doc_id < b.doc_id AND abs(a.len - b.len) <= 2),
             |v AS (
             |  SELECT c.id_a, c.id_b,
             |         CAST(levenshtein(ta.title, tb.title) AS INTEGER) AS dist
             |  FROM cand c
             |  JOIN titles ta ON ta.doc_id = c.id_a
             |  JOIN titles tb ON tb.doc_id = c.id_b)
             |SELECT id_a, id_b, dist FROM v WHERE dist <= 2
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("d18_substring_dedup",
      // exact duplicated-SPAN removal ([[DedupFunctions
      // .removeDuplicateSpans]], Lee et al. ACL 2022's ExactSubstr at
      // token granularity): the synthetic docs are distinct, so the
      // query plants a shared 12-token quote on doc_id%4 — with k=8
      // every 8-gram inside the quote is duplicated across ~125 docs,
      // only the lowest doc_id keeps its copy, and the cut-index union
      // removes the whole quote from everyone else while grams
      // straddling into each doc's own text stay unique and survive.
      // md5 hash form → DuckDB replays the identical gram table,
      // keeper rule, and token-union cut end-to-end.
      (s, dir) => {
        val quote =
          "the quick brown fox jumps over the lazy dog every single morning"
        val planted = docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 4 === 0, concat(col("text"), lit(" " + quote)))
            .otherwise(col("text")).as("text"))
        D.removeDuplicateSpans(planted, "doc_id", "text", k = 8,
            hash = D.md5Hash60)
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 4 = 0
             |      THEN text || ' the quick brown fox jumps over the lazy dog every single morning'
             |      ELSE text END AS text
             |  FROM documents),
             |tk AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
             |  FROM planted),
             |toks AS (
             |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
             |  FROM tk),
             |grams AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x' || substring(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h
             |  FROM tk, LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
             |  WHERE len(t) >= 8),
             |keep AS (
             |  SELECT h, doc_id AS kid, pos AS kpos FROM (
             |    SELECT h, doc_id, pos,
             |           count(*) OVER (PARTITION BY h) AS c,
             |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             |    FROM grams) WHERE rn = 1 AND c > 1),
             |cuts AS (
             |  SELECT DISTINCT g.doc_id, g.pos + o.o AS cut
             |  FROM grams g
             |  JOIN keep ON g.h = keep.h
             |    AND NOT (g.doc_id = keep.kid AND g.pos = keep.kpos),
             |  LATERAL unnest(generate_series(0, 7)) AS o(o)),
             |kept AS (
             |  SELECT t.doc_id, t.pos, t.tok
             |  FROM toks t LEFT JOIN cuts c
             |    ON t.doc_id = c.doc_id AND t.pos = c.cut
             |  WHERE c.doc_id IS NULL),
             |rebuilt AS (
             |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
             |  FROM kept GROUP BY doc_id)
             |SELECT p.doc_id, coalesce(r.text, '') AS text
             |FROM planted p LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY p.doc_id""".stripMargin)),

QueryDef("d19_semantic_dedup",
      // SemDeDup pairs ([[SimilarityFunctions.semanticDedupPairs]],
      // Abbas et al. 2023): cluster-bounded semantic near-dup pairs
      // over the planted embedding corpus — 8 deterministic centroids
      // (the s3 row-sample convention), argmax-cosine assignment with
      // lower-centroid ties, pairwise cosine ONLY within a cluster.
      // Every planted twin (cosine ≈ 0.92-0.95) co-clusters with its
      // original and surfaces; the oracle replays assignment, the
      // within-cluster join, and the 6dp-rounded threshold.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"),
            col("embedding").cast("array<double>").as("centroid_vec"))
        S.semanticDedupPairs(plantedEmbeddings(s, dir), centroids,
            threshold = 0.9, idCol = "id", vecCol = "v")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |corpus AS (
             |  SELECT id, v FROM base
             |  UNION ALL
             |  SELECT id + 100000 AS id, list_transform(v, x -> x + 0.05) AS v FROM base),
             |c AS (
             |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
             |  FROM embeddings WHERE vec_id < 8),
             |assign AS (
             |  SELECT id, v, cid FROM (
             |    SELECT e.id, e.v, c.cid,
             |           row_number() OVER (PARTITION BY e.id
             |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
             |    FROM corpus e, c) WHERE rn = 1)
             |SELECT a.id AS id_a, b.id AS id_b,
             |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
             |FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
             |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("d20_dsir_sample",
      // DSIR importance resampling ([[SamplingFunctions.dsirSample]],
      // Xie et al. NeurIPS 2023): hashed unigram+bigram bag models for
      // a target subset (doc_id%7 — the "curated corpus" stand-in) and
      // the raw corpus, per-doc log likelihood-ratio, deterministic
      // Gumbel-top-k selection (noise from the md5 hash of the id).
      // The oracle replays features, both smoothed models, the summed
      // ratio, the hashed Gumbel, and the top-100 cut end-to-end.
      (s, dir) => {
        val d = docs(s, dir)
        Sam.dsirSample(d.select(col("doc_id"), col("text")),
            d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
            k = 100, hash = D.md5Hash60)
          .select(col("doc_id"), col("log_ratio"), col("score"))
          .orderBy("doc_id")
      },
      Some("""WITH rtoks AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |      t -> len(t) > 0) AS tk
             |  FROM documents),
             |feats AS (
             |  SELECT doc_id, f FROM rtoks, UNNEST(list_concat(tk,
             |    CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
             |         ELSE list_transform(generate_series(1, len(tk) - 1),
             |                i -> tk[i] || ' ' || tk[i+1]) END)) AS u(f)),
             |fb AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % 65536 AS b
             |  FROM feats),
             |tm AS (SELECT b, count(*) AS nt FROM fb WHERE doc_id % 7 = 0 GROUP BY 1),
             |rm AS (SELECT b, count(*) AS nr FROM fb GROUP BY 1),
             |tt AS (SELECT sum(nt) AS ttot FROM tm),
             |rt AS (SELECT sum(nr) AS rtot FROM rm),
             |sc AS (
             |  SELECT r.doc_id,
             |    sum(ln((coalesce(tm.nt, 0) + 1.0) / (ttot + 65536.0))
             |      - ln((coalesce(rm.nr, 0) + 1.0) / (rtot + 65536.0))) AS lr
             |  FROM fb r LEFT JOIN tm ON r.b = tm.b LEFT JOIN rm ON r.b = rm.b, tt, rt
             |  GROUP BY 1),
             |w AS (
             |  SELECT d.doc_id, round(coalesce(sc.lr, 0.0), 6) AS log_ratio
             |  FROM documents d LEFT JOIN sc USING (doc_id)),
             |g AS (
             |  SELECT doc_id, log_ratio,
             |    round(log_ratio - ln(-ln(
             |      (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |         % 1000000 + 0.5) / 1000000.0)), 6) AS score
             |  FROM w),
             |sel AS (
             |  SELECT doc_id, log_ratio, score,
             |         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
             |  FROM g)
             |SELECT doc_id, log_ratio, score FROM sel WHERE rn <= 100
             |ORDER BY doc_id""".stripMargin)),

QueryDef("d17_split_leakage",
      // cross-split leakage audit ([[DedupFunctions.crossSplitLeakage]]):
      // near-dup pairs straddling train/valid/test make eval scores
      // lie. The query plants republished near-copies under shifted ids
      // (c5's batch pattern — a few appended words keep jaccard >= 0.8
      // for substantial docs), hash-splits 80/10/10 (d5's md5 form),
      // and reports every straddling pair with both labels. Oracle =
      // the d3 pair CTEs over the planted corpus + the d5 split CTE +
      // the straddle join.
      (s, dir) => {
        val d = docs(s, dir)
        val planted = d.select(col("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 9 === 0)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat(col("text"), lit(" extracted republished copy")).as("text")))
        val pairs = D.jaccardPairs(planted, "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 2000L)
        val splits = planted.select(col("doc_id"),
          Sam.splitColumn(col("doc_id").cast("string"), pctTrain = 80,
            pctValid = 10, hash = D.md5Hash60).as("split"))
        D.crossSplitLeakage(pairs, splits, "doc_id")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text || ' extracted republished copy'
             |  FROM documents WHERE doc_id % 9 = 0),
             |toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM planted),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             |         count(*) AS shared
             |  FROM e a JOIN e b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |pairs AS (
             |  SELECT id_a, id_b,
             |         round(CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE), 6) AS jaccard
             |  FROM p
             |  WHERE CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) >= 0.8),
             |sp AS (
             |  SELECT doc_id,
             |    CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
             |         WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'valid'
             |         ELSE 'test' END AS split
             |  FROM planted)
             |SELECT pr.id_a, pr.id_b, pr.jaccard, sa.split AS split_a, sb.split AS split_b
             |FROM pairs pr
             |JOIN sp sa ON sa.doc_id = pr.id_a
             |JOIN sp sb ON sb.doc_id = pr.id_b
             |WHERE sa.split <> sb.split
             |ORDER BY pr.id_a, pr.id_b""".stripMargin)),

QueryDef("d16_weighted_sample",
      // weighted sampling without replacement ([[SamplingFunctions
      // .weightedSamplePerGroup]], Efraimidis-Spirakis keys u^(1/w)):
      // each source keeps the 20 docs with the largest keys, weighted
      // by length (n_chars) — "prefer substantial documents" as a pure
      // deterministic draw. md5 hash form → DuckDB recomputes the
      // identical sample (the d5 portability contract).
      (s, dir) => Sam.weightedSamplePerGroup(
          docs(s, dir).withColumn("_k", col("doc_id").cast("string")),
          groupCol = "source", keyCol = "_k", weightCol = "n_chars",
          k = 20, hash = D.md5Hash60)
        .select(col("doc_id"), col("source"))
        .orderBy("source", "doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |    (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |       % 1000000 + 0.5) / 1000000.0 AS u,
             |    n_chars
             |  FROM documents
             |  WHERE n_chars IS NOT NULL AND n_chars > 0),
             |ek AS (
             |  SELECT doc_id, source, pow(u, 1.0 / n_chars) AS ekey FROM b),
             |r AS (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY ekey DESC, CAST(doc_id AS VARCHAR)) AS rn
             |  FROM ek)
             |SELECT doc_id, source FROM r WHERE rn <= 20
             |ORDER BY source, doc_id""".stripMargin)),

QueryDef("d10_quality_cap",
      // top-k-by-QUALITY per source — capPerGroup's struct-order path:
      // orderCol = struct(-quality, doc_id) maps "best first, id
      // tiebreak" onto the k-smallest cut, exercising the bounded-heap
      // aggregate's generic struct ordering end-to-end. Orderable
      // because quality doubles are bit-identical across engines (t2
      // hash-matches them UNROUNDED); rounding here is output-only.
      (s, dir) => {
        val d = docs(s, dir)
          .select(col("doc_id"), col("source"),
            T.qualityScore(col("text")).as("q"))
          .withColumn("_ord", struct((-col("q")).as("nq"), col("doc_id")))
        Sam.capPerGroup(d, "source", "_ord", k = 10)
          .select(col("doc_id"), col("source"), round(col("q"), 6).as("q"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / length(text)
             |         END AS punct_ratio,
             |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |           x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','with','as','at','by'], x))) AS DOUBLE)
             |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stopword_ratio
             |  FROM documents),
             |qq AS (SELECT doc_id, source,
             |  (least(CAST(n_tok AS DOUBLE) / 20.0, 1.0) * 0.4
             |   + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.3
             |   + least(stopword_ratio * 5.0, 1.0) * 0.3) * 100.0 AS q
             |FROM b)
             |SELECT doc_id, source, round(q, 6) AS q FROM qq
             |QUALIFY row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) <= 10
             |ORDER BY doc_id""".stripMargin)),

QueryDef("d4_embed_dedup",
      // embedding-cosine near-duplicate DEDUP: the s2 pipeline's verified
      // pairs drive the greedy smallest-id-canonical drop — every planted
      // near-duplicate the LSH recovers disappears, originals survive.
      // Shares the generated-plane oracle CTEs with s2.
      (s, dir) => {
        val corpus = plantedEmbeddings(s, dir)
        val pairs = S.lshNeighborPairs(corpus, dim = 64, nBits = 16,
          bands = 4, minCosine = 0.8, idCol = "id", vecCol = "v")
        D.dropNearDuplicates(corpus, pairs, "id").select("id").orderBy("id")
      },
      Some(d4OracleSql)),

QueryDef("d7_dedup_clusters",
      // transitive near-dup CLUSTERS: connected components (distributed
      // star contraction / union-find) over the verified LSH pairs — A~B, B~C
      // chains collapse into one cluster even when (A,C) was never a
      // candidate. Oracle replays the closure with a recursive CTE.
      (s, dir) => {
        val corpus = plantedEmbeddings(s, dir)
        val pairs = S.lshNeighborPairs(corpus, dim = 64, nBits = 16,
          bands = 4, minCosine = 0.8, idCol = "id", vecCol = "v")
        D.connectedComponents(pairs)
          .groupBy(col("component").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
          .orderBy("cluster_id")
      },
      Some(d7OracleSql)),

QueryDef("skew1_key_profile",
      // the diagnose-before-defending companion to SkewOps' salted
      // joins: per-key count distribution reduced to ONE row in two
      // chained aggregations (map-side partials; max_by for the hot
      // key — no sort anywhere).
      (s, dir) => SkewOps.keySkewProfile(t(s, dir, "lineitem"), "l_suppkey"),
      Some("""WITH c AS (SELECT l_suppkey AS k, count(*) AS cnt
             |          FROM lineitem GROUP BY 1)
             |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             |       count(*) AS n_keys,
             |       max(cnt) AS max_cnt,
             |       round(avg(cnt), 6) AS avg_cnt,
             |       round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
             |       round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
             |       (SELECT CAST(k AS VARCHAR) FROM c
             |        ORDER BY cnt DESC, CAST(k AS VARCHAR) DESC LIMIT 1) AS top_key,
             |       round(CAST(max(cnt) AS DOUBLE) / sum(cnt) * 100, 6)
             |         AS top_share_pct
             |FROM c""".stripMargin)),

QueryDef("skew2_top_keys",
      // heaviest keys with row share: TakeOrdered over the key-count
      // frame + a broadcast single-row total — never a global sort.
      (s, dir) => SkewOps.topKeys(events(s, dir), "user_id", k = 5)
        .orderBy(desc("cnt"), asc("key")),
      Some("""WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
             |                 count(*) AS cnt
             |          FROM events GROUP BY 1),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM events)
             |SELECT key, cnt,
             |       round(CAST(cnt AS DOUBLE) / tot * 100, 6) AS share_pct
             |FROM c, t ORDER BY cnt DESC, key LIMIT 5""".stripMargin)),

QueryDef("d26_prefix_jaccard",
      // PPJoin-style prefix-filtered set-similarity self-join
      // ([[graft.functions.DedupFunctions.prefixJaccardPairs]]): the
      // COMPLETE Jaccard-pairs answer — candidates only from each
      // document's rarest-first shingle prefix, exact verification on
      // the full arrays. Same contract as d3 but with the prefix filter
      // replacing the lossy df-cap; at sf0.01 the two agree exactly.
      (s, dir) => D.prefixJaccardPairs(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |dfc AS (SELECT sgl, count(*) AS df FROM e GROUP BY 1),
             |rk AS (
             |  SELECT e.doc_id, e.n_sh, e.sgl,
             |         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.sgl) AS rn
             |  FROM e JOIN dfc d USING (sgl)),
             |pre AS (
             |  SELECT doc_id, n_sh, sgl FROM rk
             |  WHERE rn <= n_sh - ceil(0.8 * CAST(n_sh AS DOUBLE) - 1e-9) + 1),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |         a.n_sh AS n_a, b.n_sh AS n_b
             |  FROM pre a JOIN pre b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  WHERE CAST(least(a.n_sh, b.n_sh) AS DOUBLE)
             |        >= 0.8 * CAST(greatest(a.n_sh, b.n_sh) AS DOUBLE) - 1e-9),
             |ver AS (
             |  SELECT c.id_a, c.id_b, c.n_a, c.n_b, count(*) AS shared
             |  FROM cand c
             |  JOIN e ea ON ea.doc_id = c.id_a
             |  JOIN e eb ON eb.doc_id = c.id_b AND eb.sgl = ea.sgl
             |  GROUP BY 1, 2, 3, 4)
             |SELECT id_a, id_b,
             |  round(CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE), 6) AS jaccard
             |FROM ver
             |WHERE CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

QueryDef("d27_negative_sampling",
      // deterministic contrastive negatives ([[graft.functions
      // .SamplingFunctions.negativeSample]]): per document, 5 negatives
      // from a 200-doc broadcast pool, different source only, both
      // draws pure md5 functions of the ids (the m1b replay pattern).
      (s, dir) => Sam.negativeSample(docs(s, dir), "doc_id", "source",
          k = 5, poolSize = 200)
        .orderBy("anchor_id", "skey", "neg_id"),
      Some("""WITH d AS (SELECT doc_id, source FROM documents),
             |pool AS (
             |  SELECT doc_id AS neg_id, source AS gb,
             |         CAST(('0x' || substring(md5('neg' || '#' || 'p' || '#'
             |                || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS pk
             |  FROM d ORDER BY pk, neg_id LIMIT 200),
             |cand AS (
             |  SELECT a.doc_id AS anchor_id, p.neg_id,
             |         CAST(('0x' || substring(md5('neg' || '#'
             |                || CAST(a.doc_id AS VARCHAR) || '#'
             |                || CAST(p.neg_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
             |  FROM d a JOIN pool p
             |    ON a.source IS DISTINCT FROM p.gb AND a.doc_id <> p.neg_id),
             |rk AS (
             |  SELECT anchor_id, neg_id, skey,
             |         row_number() OVER (PARTITION BY anchor_id
             |                            ORDER BY skey, neg_id) AS rn
             |  FROM cand)
             |SELECT anchor_id, neg_id, skey FROM rk WHERE rn <= 5
             |ORDER BY anchor_id, skey, neg_id""".stripMargin)),

QueryDef("d28_density_clusters",
      // DBSCAN over the embedding ε-graph ([[graft.functions
      // .SimilarityFunctions.densityClusters]], ε = cos ≥ 0.35,
      // minPts = 2): banded hyperplane-LSH pairs feed degree → core →
      // star-contraction components over CORE–CORE edges only; border
      // points attach to the MIN neighboring cluster id (the
      // order-invariant fixup of textbook DBSCAN's scan-order tie).
      // The oracle replays signatures, banding, verification, degrees,
      // the recursive closure, and the border attach end to end.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val pairs = S.lshNeighborPairs(emb, dim = 64, nBits = 16,
          bands = 4, minCosine = 0.35)
        S.densityClusters(pairs, minPts = 2)
          .groupBy(col("cluster_id"))
          .agg(sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
            sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
            max(col("id")).as("max_id"))
          .orderBy("cluster_id")
      },
      Some(
        s"""WITH RECURSIVE corpus AS (
           |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |pl AS (SELECT $planes64x16Sql AS planes),
           |sig AS (
           |  SELECT id, v,
           |    CAST(list_aggregate(list_transform(generate_series(0, 15), i ->
           |      CASE WHEN list_dot_product(v, planes[i+1]) >= 0
           |           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
           |      'sum') AS BIGINT) AS sig
           |  FROM corpus, pl),
           |banded AS (
           |  SELECT id, b, (sig >> (b*4)) & 15 AS key
           |  FROM sig, UNNEST([0,1,2,3]) AS t(b)),
           |cands AS (
           |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
           |  WHERE x.id < y.id),
           |verified AS MATERIALIZED (
           |  SELECT c.id_a, c.id_b
           |  FROM cands c JOIN sig a ON a.id = c.id_a
           |                JOIN sig b ON b.id = c.id_b
           |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
           |edges AS MATERIALIZED (
           |  SELECT id_a AS src, id_b AS dst FROM verified
           |  UNION ALL SELECT id_b, id_a FROM verified),
           |core AS MATERIALIZED (
           |  SELECT src AS id FROM edges GROUP BY 1 HAVING count(*) >= 2),
           |cedges AS MATERIALIZED (
           |  SELECT v.id_a, v.id_b FROM verified v
           |  JOIN core a ON v.id_a = a.id JOIN core b ON v.id_b = b.id),
           |csym AS (SELECT id_a AS src, id_b AS dst FROM cedges
           |         UNION SELECT id_b, id_a FROM cedges),
           |reach(id, r) AS (
           |  SELECT src, src FROM csym
           |  UNION
           |  SELECT reach.id, e.dst FROM reach JOIN csym e ON reach.r = e.src),
           |cc0 AS MATERIALIZED (
           |  SELECT id, min(r) AS component FROM reach GROUP BY 1),
           |cc AS MATERIALIZED (
           |  SELECT * FROM cc0
           |  UNION ALL
           |  SELECT id, id FROM core WHERE id NOT IN (SELECT id FROM cc0)),
           |border AS (
           |  SELECT e.src AS id, min(cc.component) AS component
           |  FROM edges e JOIN cc ON e.dst = cc.id
           |  WHERE e.src NOT IN (SELECT id FROM core)
           |  GROUP BY 1)
           |SELECT component AS cluster_id,
           |  CAST(count(*) FILTER (WHERE role = 'core') AS BIGINT) AS n_core,
           |  CAST(count(*) FILTER (WHERE role = 'border') AS BIGINT) AS n_border,
           |  max(id) AS max_id
           |FROM (SELECT id, component, 'core' AS role FROM cc
           |      UNION ALL SELECT id, component, 'border' FROM border)
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

QueryDef("d29_lsh_recall",
      // recall audit of the MinHash-LSH dedup tier against the
      // COMPLETE answer (s7's dedup twin): truth = the lossless
      // prefix-filtered exact Jaccard pairs (d26's operator at 0.7),
      // prediction = the banded m1b pipeline at the same threshold.
      // LSH verifies TRUE Jaccard on its candidates, so pred ⊆ truth
      // and precision is 1 by construction — the number that needs
      // watching is RECALL (pairs whose bands never collided). All
      // counts exact longs; one small-denominator division.
      (s, dir) => {
        // truth feeds its count AND the anti-join; pred feeds its count
        // AND the anti-join — unpinned, each pair pipeline (prefix-
        // filter join / banded LSH join) executed twice (r15 pin, the
        // multi-consumer rule; released with the caller's Caches.scoped)
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val truth = graft.Caches.trackedPersist(
          D.prefixJaccardPairs(docs(s, dir), "doc_id", "text",
            n = 3, threshold = 0.7).select("id_a", "id_b"), lvl)
        val pred = graft.Caches.trackedPersist(
          D.minhashLshPairs(docs(s, dir), "doc_id", "text",
            n = 3, numHashes = 16, bands = 4, threshold = 0.7,
            hash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
            bucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
          .select("id_a", "id_b"), lvl)
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nP = pred.agg(count(lit(1)).as("n_pred"))
        val nM = truth.join(pred, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("n_missed"))
        nT.crossJoin(nP).crossJoin(nM)
          .select(col("n_truth"), col("n_pred"), col("n_missed"),
            when(col("n_truth") === 0, lit(null)).otherwise(
              round((col("n_truth") - col("n_missed")).cast("double")
                / col("n_truth").cast("double"), 6)).as("recall"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |dfc AS (SELECT sgl, count(*) AS df FROM e GROUP BY 1),
             |rk AS (
             |  SELECT e.doc_id, e.n_sh, e.sgl,
             |         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.sgl) AS rn
             |  FROM e JOIN dfc d USING (sgl)),
             |pre AS (
             |  SELECT doc_id, n_sh, sgl FROM rk
             |  WHERE rn <= n_sh - ceil(0.7 * CAST(n_sh AS DOUBLE) - 1e-9) + 1),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |         a.n_sh AS n_a, b.n_sh AS n_b
             |  FROM pre a JOIN pre b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  WHERE CAST(least(a.n_sh, b.n_sh) AS DOUBLE)
             |        >= 0.7 * CAST(greatest(a.n_sh, b.n_sh) AS DOUBLE) - 1e-9),
             |ver AS (
             |  SELECT c.id_a, c.id_b, c.n_a, c.n_b, count(*) AS shared
             |  FROM cand c
             |  JOIN e ea ON ea.doc_id = c.id_a
             |  JOIN e eb ON eb.doc_id = c.id_b AND eb.sgl = ea.sgl
             |  GROUP BY 1, 2, 3, 4),
             |truth AS (
             |  SELECT id_a, id_b FROM ver
             |  WHERE CAST(shared AS DOUBLE)
             |        / CAST(n_a + n_b - shared AS DOUBLE) >= 0.7),
             |sig AS (
             |  SELECT doc_id, shingles,
             |    list_transform(generate_series(0, 15), i ->
             |      list_aggregate(list_transform(shingles, s ->
             |        CAST(('0x' || substring(md5(s || '#' || i), 1, 15)) AS BIGINT)), 'min')) AS sg
             |  FROM sh),
             |banded AS (
             |  SELECT doc_id, b,
             |    CAST(('0x' || substring(md5(array_to_string(sg[b*4+1:b*4+4], ',') || '#b#' || b), 1, 15)) AS BIGINT) AS bucket
             |  FROM sig, UNNEST([0, 1, 2, 3]) AS t(b)),
             |cands AS (
             |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             |  FROM banded x JOIN banded y ON x.b = y.b AND x.bucket = y.bucket
             |  WHERE x.doc_id < y.doc_id),
             |pred AS (
             |  SELECT c.id_a, c.id_b
             |  FROM cands c
             |  JOIN sh a ON a.doc_id = c.id_a
             |  JOIN sh b ON b.doc_id = c.id_b
             |  WHERE CAST(len(a.shingles) + len(b.shingles)
             |         - len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
             |      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.7),
             |nm AS (
             |  SELECT count(*) AS n_missed
             |  FROM truth t LEFT JOIN pred p USING (id_a, id_b)
             |  WHERE p.id_a IS NULL)
             |SELECT (SELECT count(*) FROM truth) AS n_truth,
             |  (SELECT count(*) FROM pred) AS n_pred,
             |  nm.n_missed,
             |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
             |       ELSE round(CAST((SELECT count(*) FROM truth) - nm.n_missed
             |                       AS DOUBLE)
             |                  / (SELECT count(*) FROM truth), 6) END AS recall
             |FROM nm""".stripMargin)),

QueryDef("d30_jaccard_yield",
      // threshold-yield curve for near-dup dedup: d3's exact Jaccard
      // pairs at a LOW floor (0.2), bucketed by 0.1 similarity bands
      // with the cumulative pair count from the top — the curve that
      // DECIDES the production threshold (how many pairs each setting
      // would kill) before committing to an m1-style LSH config. Pair
      // enumeration costs the same as any threshold (the co-shingle
      // join dominates); the histogram is 10 rows. The raw corpus has
      // only exact-ish duplicates, so every third document gains a
      // PLANTED half-length twin (id+200000, first ⌈n/2⌉ tokens — the
      // s2/c2 "create the condition under test" pattern), populating
      // the mid-similarity bands the curve exists to show.
      (s, dir) => {
        val d = docs(s, dir)
        val twins = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            array_join(slice(split(lower(trim(col("text"))), "\\s+"), lit(1),
              expr("CAST(ceil(size(split(lower(trim(text)), '\\\\s+')) / 2.0) AS INT)")),
              " ").as("text"))
        val planted = d.select(col("doc_id"), col("text")).unionByName(twins)
        val pairs = D.jaccardPairs(planted, "doc_id", "text",
          n = 3, threshold = 0.2, maxDf = 1000L)
        val h = pairs
          .groupBy(least(floor(col("jaccard") * 10), lit(9)).cast("int")
            .as("bucket"))
          .agg(count(lit(1)).as("n_pairs"))
        // unpartitioned window, bounded by design (r16 audit): input is
        // the 10-bucket jaccard histogram — exactly ≤10 rows at any SF,
        // so the WindowExec single-partition warning is benign here
        h.withColumn("band_lo", round(col("bucket").cast("double") / 10, 1))
          .withColumn("cum_from_top", sum(col("n_pairs")).over(
            Window.orderBy(col("bucket").desc)
              .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("bucket"), col("band_lo"), col("n_pairs"),
            col("cum_from_top"))
          .orderBy("bucket")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 200000 AS doc_id,
             |    array_to_string(
             |      (regexp_split_to_array(lower(trim(text)), '\s+'))[
             |        1:CAST(ceil(len(regexp_split_to_array(lower(trim(text)),
             |            '\s+')) / 2.0) AS INTEGER)], ' ') AS text
             |  FROM documents WHERE doc_id % 3 = 0),
             |toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM raw),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a,
             |         b.n_sh AS n_b, count(*) AS shared
             |  FROM e a JOIN e b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |j AS (
             |  SELECT round(CAST(shared AS DOUBLE)
             |    / CAST(n_a + n_b - shared AS DOUBLE), 6) AS jac
             |  FROM p
             |  WHERE CAST(shared AS DOUBLE)
             |    / CAST(n_a + n_b - shared AS DOUBLE) >= 0.2),
             |h AS (
             |  SELECT CAST(least(floor(jac * 10), 9) AS INTEGER) AS bucket,
             |         count(*) AS n_pairs
             |  FROM j GROUP BY 1)
             |SELECT bucket, round(CAST(bucket AS DOUBLE) / 10, 1) AS band_lo,
             |  n_pairs,
             |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_from_top
             |FROM h ORDER BY bucket""".stripMargin)),

QueryDef("d35_dup_locality",
      // near-duplicate LOCALITY: of d3's exact Jaccard pairs (≥ 0.8),
      // how many live WITHIN one source vs across sources — the
      // architecture decision this feeds is real (within-only dup ⇒
      // dedup shards per source; cross-source dup ⇒ global index
      // mandatory, the c5-family shape). Pair machinery is d3's; the
      // locality tag is two broadcast source-lookups; all-integer.
      (s, dir) => {
        val src = docs(s, dir).select(col("doc_id"), col("source"))
        val pairs = D.jaccardPairs(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 1000L)
        pairs
          .join(broadcast(src.toDF("id_a", "_sa")), "id_a")
          .join(broadcast(src.toDF("id_b", "_sb")), "id_b")
          .groupBy((col("_sa") === col("_sb")).as("within_source"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("share", round(col("n_pairs").cast("double") /
            sum(col("n_pairs")).over(Window.partitionBy(lit(1)))
              .cast("double"), 6))
          .orderBy("within_source")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sgl FROM sh),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a,
             |         b.n_sh AS n_b, count(*) AS shared
             |  FROM e a JOIN e b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |k AS (
             |  SELECT id_a, id_b FROM p
             |  WHERE CAST(shared AS DOUBLE)
             |    / CAST(n_a + n_b - shared AS DOUBLE) >= 0.8),
             |t AS (
             |  SELECT (da.source = db.source) AS within_source,
             |         count(*) AS n_pairs
             |  FROM k JOIN documents da ON k.id_a = da.doc_id
             |         JOIN documents db ON k.id_b = db.doc_id
             |  GROUP BY 1)
             |SELECT within_source, n_pairs,
             |  round(CAST(n_pairs AS DOUBLE)
             |    / CAST(sum(n_pairs) OVER () AS DOUBLE), 6) AS share
             |FROM t ORDER BY within_source""".stripMargin)),

QueryDef("d36_dedup_savings",
      // what exact dedup SAVES, per source: docs and tokens that d1's
      // fingerprint pass would drop — the "is dedup worth the pass"
      // sizing report mix1's accounting assumes. Keeper = min doc_id
      // per fingerprint group (the d1 rule); dropped mass is one
      // anti-condition aggregate; all-integer, one division per rate.
      (s, dir) => {
        val f = docs(s, dir).filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            T.tokenCount(col("text")).as("_tok"),
            T.fingerprint(col("text")).as("_fp"))
        val keep = f.groupBy("_fp").agg(min(col("doc_id")).as("_keep"))
        f.join(broadcast(keep), Seq("_fp"))
          .withColumn("_dropped", col("doc_id") =!= col("_keep"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(col("_tok")).as("n_tokens"),
            sum(when(col("_dropped"), 1L).otherwise(0L)).as("docs_dropped"),
            sum(when(col("_dropped"), col("_tok")).otherwise(0L))
              .as("tokens_dropped"))
          .withColumn("token_savings", round(
            col("tokens_dropped").cast("double") /
              col("n_tokens").cast("double"), 6))
          .orderBy("source")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, source,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
             |      AS tok,
             |    md5(regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fp
             |  FROM documents WHERE text IS NOT NULL),
             |k AS (SELECT fp, min(doc_id) AS keep FROM f GROUP BY 1)
             |SELECT f.source, count(*) AS n_docs,
             |  CAST(sum(f.tok) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN f.doc_id <> k.keep THEN 1 ELSE 0 END)
             |    AS BIGINT) AS docs_dropped,
             |  CAST(sum(CASE WHEN f.doc_id <> k.keep THEN f.tok ELSE 0 END)
             |    AS BIGINT) AS tokens_dropped,
             |  round(CAST(sum(CASE WHEN f.doc_id <> k.keep THEN f.tok
             |      ELSE 0 END) AS DOUBLE) / CAST(sum(f.tok) AS DOUBLE), 6)
             |    AS token_savings
             |FROM f JOIN k USING (fp) GROUP BY 1 ORDER BY source""".stripMargin)),

QueryDef("d37_vocab_overlap",
      // source-pair vocabulary Jaccard: |V_a ∩ V_b| / |V_a ∪ V_b| over
      // distinct lowercase tokens — the set-based companion to t29's
      // distributional JSD (two feeds can share vocabulary yet differ
      // in style, and vice versa). Intersections come from ONE
      // token-keyed self-join of the (source, token) distinct frame;
      // union by inclusion–exclusion — all exact integers, one
      // division.
      (s, dir) => {
        val v = graft.Caches.trackedPersist(docs(s, dir)
          .filter(col("text").isNotNull)
          .select(col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0).distinct(),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sizes = v.groupBy("source").agg(count(lit(1)).as("_v"))
        val inter = v.as("a").join(v.as("b"),
            col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
        inter
          .join(broadcast(sizes.select(col("source").as("src_a"),
            col("_v").as("_va"))), "src_a")
          .join(broadcast(sizes.select(col("source").as("src_b"),
            col("_v").as("_vb"))), "src_b")
          .select(col("src_a"), col("src_b"), col("_va").as("vocab_a"),
            col("_vb").as("vocab_b"), col("n_shared"),
            round(col("n_shared").cast("double") /
              (col("_va") + col("_vb") - col("n_shared")).cast("double"), 6)
              .as("vocab_jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH v AS (
             |  SELECT DISTINCT source, tok FROM (
             |    SELECT source,
             |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |    FROM documents WHERE text IS NOT NULL)
             |  WHERE length(tok) > 0),
             |sz AS (SELECT source, count(*) AS vs FROM v GROUP BY 1),
             |i AS (
             |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
             |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT i.src_a, i.src_b,
             |  CAST(sa.vs AS BIGINT) AS vocab_a, CAST(sb.vs AS BIGINT) AS vocab_b,
             |  i.n_shared,
             |  round(CAST(i.n_shared AS DOUBLE)
             |    / CAST(sa.vs + sb.vs - i.n_shared AS DOUBLE), 6)
             |    AS vocab_jaccard
             |FROM i JOIN sz sa ON i.src_a = sa.source
             |       JOIN sz sb ON i.src_b = sb.source
             |ORDER BY src_a, src_b""".stripMargin)),

    QueryDef("d39_shingle_df_audit",
      // shingle document-frequency audit — the capacity-planning table
      // behind every shingle-keyed candidate join: Σdf² IS the exact
      // row count of the self-join on shingles (the d22 lesson: an
      // unaudited df profile benched 89.7 s; recutting the cap from
      // the measured profile landed 5.9 s), Σdf(df−1)/2 the unordered
      // candidate-pair count, and the p99/max df name the boilerplate
      // shingles a cap or salt must handle. All-integer from the
      // count-of-counts histogram; the only window runs over distinct
      // df LEVELS (e21 convention). Run this BEFORE picking maxDf for
      // d3/d22-class joins.
      (s, dir) => {
        val sgl = docs(s, dir).select(col("doc_id"),
          explode(D.wordShingles(col("text"), 3)).as("_sgl"))
        val dfq = sgl.groupBy("_sgl").agg(count(lit(1)).as("_df"))
        // pinned: totals + the p99 crossing both read the histogram
        val lv = graft.Caches.trackedPersist(
          dfq.groupBy("_df").agg(count(lit(1)).as("_m")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = lv.agg(sum(col("_m")).as("n_shingles"),
          sum(col("_df") * col("_m")).as("n_doc_shingle_pairs"),
          sum(col("_df") * col("_df") * col("_m")).as("sum_df2"),
          sum(expr("_df * (_df - 1) div 2") * col("_m")).as("cand_pairs"),
          max(col("_df")).as("max_df"))
        // unpartitioned window, bounded by design (r16 audit): input is
        // the df-LEVEL histogram — rows = distinct document-frequency
        // values (sub-linear in docs; the level-compression is the
        // point of this query), warning benign
        val wL = Window.orderBy("_df")
          .rowsBetween(Window.unboundedPreceding, 0)
        val p99 = lv.withColumn("_cum", sum(col("_m")).over(wL))
          .crossJoin(broadcast(tot))
          .filter(col("_cum") * 100 >= col("n_shingles") * 99 &&
            (col("_cum") - col("_m")) * 100 < col("n_shingles") * 99)
          .select(col("_df").as("p99_df"))
        tot.crossJoin(broadcast(p99))
          .select(col("n_shingles"), col("n_doc_shingle_pairs"),
            col("sum_df2"), col("cand_pairs"), col("max_df"), col("p99_df"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) - 2 <= 0 THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
             |                i -> array_to_string(tk[i:i+2], ' '))) END AS shingles
             |  FROM toks),
             |e AS (SELECT doc_id, unnest(shingles) AS sgl FROM sh),
             |dfq AS (SELECT sgl, count(*) AS df FROM e GROUP BY 1),
             |lv AS (SELECT df, count(*) AS m FROM dfq GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(m) AS BIGINT) AS n_shingles,
             |    CAST(sum(df * m) AS BIGINT) AS n_doc_shingle_pairs,
             |    CAST(sum(df * df * m) AS BIGINT) AS sum_df2,
             |    CAST(sum((df * (df - 1) // 2) * m) AS BIGINT) AS cand_pairs,
             |    CAST(max(df) AS BIGINT) AS max_df
             |  FROM lv),
             |cum AS (
             |  SELECT df, m,
             |    sum(m) OVER (ORDER BY df
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
             |  FROM lv),
             |p99 AS (
             |  SELECT CAST(cum.df AS BIGINT) AS p99_df
             |  FROM cum CROSS JOIN tot
             |  WHERE cum.c * 100 >= tot.n_shingles * 99
             |    AND (cum.c - cum.m) * 100 < tot.n_shingles * 99)
             |SELECT tot.n_shingles, tot.n_doc_shingle_pairs, tot.sum_df2,
             |  tot.cand_pairs, tot.max_df, p99.p99_df
             |FROM tot CROSS JOIN p99""".stripMargin)),

    QueryDef("d38_budget_curve",
      // token-budget curve: rank the corpus by quality (t2's score,
      // best first, doc_id ties) and report where cumulative tokens
      // cross 10% / 25% / 50% of the corpus budget — the curation
      // planning table ("how deep into the quality ranking does a
      // fixed training budget reach, and what cutoff score does that
      // imply"). Rank + running tokens via the distributed exact
      // prefix sum ([[graft.ops.RankOps.withGlobalPrefixSums]] — no
      // single-partition window; the crossing row is decided in exact
      // integer cross-products, cum·100 vs pct·total).
      (s, dir) => {
        // pinned: totals + the prefix sum's three input evaluations
        val base = graft.Caches.trackedPersist(docs(s, dir).select(
            col("doc_id"),
            T.tokenCount(col("text")).as("_tok"),
            T.qualityScore(col("text")).as("_sc")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = base.agg(sum(col("_tok")).as("_tt"))
        val ranked = graft.ops.RankOps.withGlobalPrefixSums(base,
            Seq(col("_sc").desc, col("doc_id")), Seq("_tok"), Seq("_cum"),
            rankCol = Some("_rn"))
          .crossJoin(broadcast(tot))
        val budgets = s.range(0, 3).select(
          element_at(array(lit(10), lit(25), lit(50)),
            (col("id") + 1).cast("int")).as("budget_pct"))
        ranked.join(broadcast(budgets),
            col("_cum") * 100 >= col("budget_pct") * col("_tt") &&
              (col("_cum") - col("_tok")) * 100 <
                col("budget_pct") * col("_tt"))
          .select(col("budget_pct"), col("_rn").as("n_docs"),
            col("_sc").as("score_cutoff"), col("_cum").as("cum_tokens"),
            round(col("_cum").cast("double") / col("_tt").cast("double"), 6)
              .as("token_share"))
          .orderBy("budget_pct")
      },
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok,
             |    CASE WHEN length(text) = 0 THEN 0.0
             |         ELSE CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / length(text)
             |         END AS punct_ratio,
             |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |           x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','with','as','at','by'], x))) AS DOUBLE)
             |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stopword_ratio
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, tok,
             |    (least(CAST(tok AS DOUBLE) / 20.0, 1.0) * 0.4
             |     + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.3
             |     + least(stopword_ratio * 5.0, 1.0) * 0.3) * 100.0 AS sc
             |  FROM b),
             |rk AS (
             |  SELECT doc_id, tok, sc,
             |    sum(tok) OVER (ORDER BY sc DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    row_number() OVER (ORDER BY sc DESC, doc_id) AS rn
             |  FROM q),
             |tt AS (SELECT sum(tok) AS t FROM q),
             |bud AS (SELECT unnest([10, 25, 50]) AS budget_pct)
             |SELECT bud.budget_pct, CAST(rk.rn AS BIGINT) AS n_docs,
             |  rk.sc AS score_cutoff, CAST(rk.cum AS BIGINT) AS cum_tokens,
             |  round(CAST(rk.cum AS DOUBLE) / CAST(tt.t AS DOUBLE), 6)
             |    AS token_share
             |FROM rk CROSS JOIN tt
             |JOIN bud ON rk.cum * 100 >= bud.budget_pct * tt.t
             |        AND (rk.cum - rk.tok) * 100 < bud.budget_pct * tt.t
             |ORDER BY budget_pct""".stripMargin))
  )
}
