package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ClassifierFunctions => Cls, DedupFunctions => D, RelevanceFunctions => R, SamplingFunctions => Sam, SimilarityFunctions => S, TextFunctions => T, UrlFunctions => U}
import graft.ops.{AsOfJoinOps, CrossValidationOps, EventAnalyticsOps, FeatureOps, GraphOps, HistoryOps, MacroOps, RangeJoinOps, SkewOps, ValidationOps}


/** Registry queries: corpus pipeline, classifier gates, tokenizer, mixtures, multimodal, URLs, privacy. Split from the former monolithic
  * Queries.scala (r12) — definitions unchanged.
  */
private[queries] object QueriesCorpus {
  import Q.{money2, prices, pricesSql, revenueDec, t}
  import QHelpers._

  val defs: Seq[QueryDef] = Seq(

    QueryDef("url1_normalize",
      // URL canonicalization ([[UrlFunctions.normalizeUrl]] / [[urlHost]]
      // / [[registrableDomain]]) over deterministically planted URLs
      // (documents has no url column — see [[plantedUrls]]): every
      // contract step exercised across four URL shapes, oracle replays
      // the identical Java∩RE2 regex chain under DuckDB's RE2.
      (s, dir) => plantedUrls(s, dir).select(col("doc_id"),
          U.normalizeUrl(col("url")).as("url_norm"),
          U.urlHost(col("url")).as("host"),
          U.registrableDomain(U.urlHost(col("url"))).as("domain"))
        .orderBy("doc_id"),
      Some(urlOracleCtes +
        "\nSELECT doc_id, url_norm, host, domain FROM dom ORDER BY doc_id")),

QueryDef("url2_domain_cap",
      // host-level corpus shaping composed ([[UrlFunctions
      // .domainBlocklistFilter]] → [[UrlFunctions.capPerDomain]]): gate
      // out a blocklisted registrable domain, then keep at most 10 docs
      // per domain (smallest doc_id first — KthSmallest bounded-heap
      // cuts, no window). The planted shapes make skewed domains
      // (example.co.uk / example.com collect a quarter of the corpus
      // each) and per-source cdn domains; oracle = the same CTEs + a
      // row_number replay of the cap.
      (s, dir) => U.capPerDomain(
          U.domainBlocklistFilter(plantedUrls(s, dir), "url", Seq("src3.org")),
          "url", "doc_id", cap = 10)
        .select("doc_id").orderBy("doc_id"),
      Some(urlOracleCtes +
        """
          |SELECT doc_id FROM (
          |  SELECT doc_id,
          |         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
          |  FROM dom WHERE domain <> 'src3.org')
          |WHERE rn <= 10 ORDER BY doc_id""".stripMargin)),

QueryDef("cls1_quality_classifier",
      // fastText-shaped quality gate ([[ClassifierFunctions
      // .naiveBayesWeights]] + [[scoreLinear]]): closed-form NB
      // log-odds over hashed unigram+bigram features, trained on the
      // even-id half labeled "is English" (lang column), scored over
      // EVERY doc — sigmoid(mean weight + bias), 6dp. md5Hash60
      // bucketing so the oracle replays features → counts → weights →
      // scores end to end (the d20 hashing convention).
      (s, dir) => {
        val d = docs(s, dir)
        val labeled = d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), (col("lang") === "en").as("label"))
        val (w, bias) = Cls.naiveBayesWeights(labeled, "text", "label",
          buckets = 1 << 16, hash = D.md5Hash60)
        Cls.scoreLinear(d, "doc_id", "text", w, bias,
            buckets = 1 << 16, hash = D.md5Hash60)
          .orderBy("doc_id")
      },
      Some("WITH " + nbScoreCtes +
        """
          |SELECT d.doc_id,
          |  round(1.0 / (1.0 + exp(-(coalesce(sc.m, 0.0) + pr.bias))), 6) AS score
          |FROM documents d CROSS JOIN pr LEFT JOIN sc USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

QueryDef("cls4_logreg_dense",
      // batch-GD logistic trainer over DENSE quality features
      // ([[ClassifierFunctions.trainLogisticDense]] —
      // [[ClassifierFunctions.trainLogisticHashed]]'s fully-oracled
      // twin, the m1/m1b convention): t2's length/punct/stopword
      // features rounded 6dp (pinned inputs), label = the doc_id%7
      // curated stand-in (d20), 8 steps of lr=1.0 batch gradient
      // descent with 6dp-rounded gradients and weights — every step a
      // well-defined cross-engine state the oracle unrolls CTE by CTE.
      // One data-sized aggregation per step (map-side partials, one
      // collected d-row gradient — driver-as-parameter-server GD);
      // final metrics ride the exact z >= 0 decision form.
      (s, dir) => {
        val d = docs(s, dir)
        val feats = d.select(
          (col("doc_id") % 7 === 0).cast("double").as("y"),
          lit(1.0).as("x0"),
          round(least(T.tokenCount(col("text")).cast("double") / lit(100.0),
            lit(1.0)), 6).as("x1"),
          round(T.punctRatio(col("text")), 6).as("x2"),
          round(T.stopwordRatio(col("text"), T.EnglishStopwords), 6).as("x3"))
        Cls.trainLogisticDense(feats,
            Seq(col("x0"), col("x1"), col("x2"), col("x3")), col("y"),
            iters = 8, lr = 1.0)
          .orderBy("feature_idx")
      },
      Some(logregOracle(8, 1.0))),

QueryDef("c10_gopher_clean",
      // the COMPLETE Gopher filter as an actual gate ([[TextFunctions
      // .gopherFilter]]): quality rules AND repetition rules, survivors
      // only. Thresholds calibrated to this corpus where the paper's
      // assume web English (minWords 40, ≥1 stopword — the synthetic
      // vocabulary holds only one of Gopher's eight stop words);
      // everything else at paper defaults. Oracle = the t15 + t16
      // rule chains composed under one conjunction.
      (s, dir) => T.gopherFilter(docs(s, dir), "doc_id", "text",
          minWords = 40L, minStopwordHits = 1)
        .select("doc_id").orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
             |tkq AS (
             |  SELECT doc_id, text,
             |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |      t -> len(t) > 0) AS w,
             |    string_split(text, chr(10)) AS ls
             |  FROM d),
             |mq AS (
             |  SELECT doc_id,
             |    CAST(len(w) AS BIGINT) AS n_words,
             |    round(CASE WHEN len(w) = 0 THEN 0.0
             |      ELSE CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / len(w)
             |      END, 6) AS mean_word_len,
             |    round(CASE WHEN len(w) = 0 THEN 0.0
             |      ELSE CAST(len(regexp_extract_all(text, '#'))
             |             + len(regexp_extract_all(text, '\.\.\.'))
             |             + len(regexp_extract_all(text, '…')) AS DOUBLE) / len(w)
             |      END, 6) AS symbol_ratio,
             |    round(CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*•‣▪]'))) AS DOUBLE)
             |      / len(ls), 6) AS bullet_frac,
             |    round(CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
             |      / len(ls), 6) AS ellipsis_frac,
             |    round(CASE WHEN len(w) = 0 THEN 0.0
             |      ELSE CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(w)
             |      END, 6) AS alpha_frac,
             |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
             |      s -> list_contains(w, s))) AS BIGINT) AS stop_hits
             |  FROM tkq),
             |tot AS (
             |  SELECT doc_id,
             |    coalesce(list_sum(list_transform(w, t -> len(t))), 0) AS tc
             |  FROM tkq),
             |lcnt AS (
             |  SELECT doc_id, line, count(*) AS c, len(line) AS ll
             |  FROM (SELECT doc_id, unnest(ls) AS line FROM tkq)
             |  GROUP BY doc_id, line),
             |lf AS (
             |  SELECT doc_id, sum(c) AS nl, sum(c*ll) AS lchars,
             |         sum(c-1) AS dl, sum((c-1)*ll) AS dlc
             |  FROM lcnt GROUP BY 1),
             |g AS (
             |  SELECT doc_id, n, pos,
             |         array_to_string(list_slice(w, pos, pos+n-1), ' ') AS gram
             |  FROM (
             |    SELECT tkq.doc_id, tkq.w, ns.n,
             |           unnest(generate_series(1, len(tkq.w) - ns.n + 1)) AS pos
             |    FROM tkq, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) ns(n))),
             |c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
             |top AS (
             |  SELECT doc_id, n, cov FROM (
             |    SELECT doc_id, n, c*(len(gram)-(n-1)) AS cov,
             |           row_number() OVER (PARTITION BY doc_id, n
             |             ORDER BY c*(len(gram)-(n-1)) DESC, gram) AS rn
             |    FROM c WHERE c >= 2 AND n <= 4) WHERE rn = 1),
             |dk AS (SELECT doc_id, n, gram FROM c WHERE c >= 2 AND n >= 5),
             |cp AS (
             |  SELECT DISTINCT doc_id, n, pos + off AS ti FROM (
             |    SELECT g.doc_id, g.n, g.pos,
             |           unnest(generate_series(0, g.n - 1)) AS off
             |    FROM g JOIN dk USING (doc_id, n, gram))),
             |tl AS (
             |  SELECT doc_id, i AS ti, len(w[i]) AS tl FROM (
             |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM tkq)),
             |dc AS (
             |  SELECT doc_id, n, sum(tl) AS cov
             |  FROM cp JOIN tl USING (doc_id, ti) GROUP BY 1, 2),
             |mr AS (
             |  SELECT d.doc_id,
             |    round(CASE WHEN lf.nl > 0 THEN least(1.0, CAST(lf.dl AS DOUBLE)/lf.nl) ELSE 0.0 END, 6) AS dup_line_frac,
             |    round(CASE WHEN lf.lchars > 0 THEN least(1.0, CAST(lf.dlc AS DOUBLE)/lf.lchars) ELSE 0.0 END, 6) AS dup_line_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(t2.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS top2_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(t3.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS top3_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(t4.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS top4_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(c5.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS dup5_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(c6.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS dup6_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(c7.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS dup7_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(c8.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS dup8_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(c9.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS dup9_char_frac,
             |    round(CASE WHEN tot.tc > 0 THEN least(1.0, CAST(coalesce(c10.cov, 0) AS DOUBLE)/tot.tc) ELSE 0.0 END, 6) AS dup10_char_frac
             |  FROM d
             |  JOIN lf USING (doc_id) JOIN tot USING (doc_id)
             |  LEFT JOIN top t2 ON t2.doc_id = d.doc_id AND t2.n = 2
             |  LEFT JOIN top t3 ON t3.doc_id = d.doc_id AND t3.n = 3
             |  LEFT JOIN top t4 ON t4.doc_id = d.doc_id AND t4.n = 4
             |  LEFT JOIN dc c5 ON c5.doc_id = d.doc_id AND c5.n = 5
             |  LEFT JOIN dc c6 ON c6.doc_id = d.doc_id AND c6.n = 6
             |  LEFT JOIN dc c7 ON c7.doc_id = d.doc_id AND c7.n = 7
             |  LEFT JOIN dc c8 ON c8.doc_id = d.doc_id AND c8.n = 8
             |  LEFT JOIN dc c9 ON c9.doc_id = d.doc_id AND c9.n = 9
             |  LEFT JOIN dc c10 ON c10.doc_id = d.doc_id AND c10.n = 10)
             |SELECT d.doc_id FROM d
             |JOIN mq USING (doc_id) JOIN mr USING (doc_id)
             |WHERE mq.n_words BETWEEN 40 AND 100000
             |  AND mq.mean_word_len BETWEEN 3.0 AND 10.0
             |  AND mq.symbol_ratio <= 0.1 AND mq.bullet_frac <= 0.9
             |  AND mq.ellipsis_frac <= 0.3 AND mq.alpha_frac >= 0.8
             |  AND mq.stop_hits >= 1
             |  AND mr.dup_line_frac <= 0.30 AND mr.dup_line_char_frac <= 0.20
             |  AND mr.top2_char_frac <= 0.20 AND mr.top3_char_frac <= 0.18
             |  AND mr.top4_char_frac <= 0.16 AND mr.dup5_char_frac <= 0.15
             |  AND mr.dup6_char_frac <= 0.14 AND mr.dup7_char_frac <= 0.13
             |  AND mr.dup8_char_frac <= 0.12 AND mr.dup9_char_frac <= 0.11
             |  AND mr.dup10_char_frac <= 0.10
             |ORDER BY doc_id""".stripMargin)),

QueryDef("c9_semantic_decontamination",
      // paraphrase-level decontamination ([[SimilarityFunctions
      // .semanticDedupPairsAgainst]] + greedy drop): the n-gram
      // decontamination gate (c1/c7) misses an eval item REWORDED into
      // the corpus; embeddings don't. Holdout = base vectors with
      // vec_id%10 (the "benchmark"), corpus = the planted twin corpus
      // — every corpus doc semantically matching a holdout doc (its
      // verbatim copy at cosine 1.0 AND its planted twin at ≈0.93)
      // drops; pairs form cross-side only, within shared clusters.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = plantedEmbeddings(s, dir)
        val holdout = emb.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("v"))
        val centroids = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"),
            col("embedding").cast("array<double>").as("centroid_vec"))
        val pairs = S.semanticDedupPairsAgainst(holdout, corpus, centroids,
          threshold = 0.9, idCol = "id", vecCol = "v")
        D.dropNearDuplicates(corpus, pairs, "id").select("id").orderBy("id")
      },
      Some("""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |corpus AS (
             |  SELECT id, v FROM base
             |  UNION ALL
             |  SELECT id + 100000 AS id, list_transform(v, x -> x + 0.05) AS v FROM base),
             |hold AS (SELECT id, v FROM base WHERE id % 10 = 0),
             |c AS (
             |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
             |  FROM embeddings WHERE vec_id < 8),
             |ac AS (
             |  SELECT id, v, cid FROM (
             |    SELECT e.id, e.v, c.cid,
             |           row_number() OVER (PARTITION BY e.id
             |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
             |    FROM corpus e, c) WHERE rn = 1),
             |ah AS (
             |  SELECT id, v, cid FROM (
             |    SELECT h.id, h.v, c.cid,
             |           row_number() OVER (PARTITION BY h.id
             |             ORDER BY list_cosine_similarity(h.v, c.cv) DESC, c.cid) AS rn
             |    FROM hold h, c) WHERE rn = 1),
             |p AS (
             |  SELECT h.id AS id_a, e.id AS id_b
             |  FROM ah h JOIN ac e ON h.cid = e.cid
             |  WHERE round(list_cosine_similarity(h.v, e.v), 6) >= 0.9)
             |SELECT id FROM corpus WHERE id NOT IN (SELECT id_b FROM p)
             |ORDER BY id""".stripMargin)),

QueryDef("bpe1_train_merges",
      // distributed BPE tokenizer training: 8 merge rounds, each one
      // corpus scan into a map-side-partial pair-count aggregate and a
      // TakeOrdered(1) argmax. The oracle re-derives every merge itself
      // (chained replace CTEs over the delimited-string rendering), so
      // rank, pair AND count are all cross-checked.
      (s, dir) => graft.functions.BpeFunctions
        .train(docs(s, dir), "text", numMerges = 8)
        .orderBy("rank"),
      Some(bpeOracle(8,
        "SELECT * FROM (\n" +
          (1 to 8).map(i => s"""SELECT $i AS "rank", lt, rt, freq FROM b$i""")
            .mkString("\nUNION ALL\n") +
          "\n) ORDER BY \"rank\""))),

QueryDef("bpe2_encode",
      // the learned tokenizer applied corpus-wide: token counts plus an
      // md5 fingerprint of the full delimited encoding per document —
      // a value-level check that every token boundary agrees with the
      // oracle's replay. Encode is the scan-local native BpeEncode
      // expression (merge loop in compiled Scala, projection stays in
      // whole-stage codegen).
      (s, dir) => {
        val d = docs(s, dir)
        val merges = graft.functions.BpeFunctions
          .train(d, "text", numMerges = 8)
          .orderBy("rank").collect() // 8 rows — bounded by construction
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.functions.BpeFunctions.encode(d, "doc_id", "text", merges)
          .select(col("doc_id"), size(col("tokens")).as("n_tokens"),
            md5(graft.functions.BpeFunctions.encodedString(col("tokens")))
              .as("enc_md5"))
          .orderBy("doc_id")
      },
      Some(bpeOracle(8,
        s"""SELECT doc_id,
           |       CAST(CASE WHEN enc = '' THEN 0
           |                 ELSE len(string_split(trim(enc, '${graft.functions.BpeFunctions.Sep}'),
           |                          '${graft.functions.BpeFunctions.Sep}${graft.functions.BpeFunctions.Sep}'))
           |            END AS INTEGER) AS n_tokens,
           |       md5(enc) AS enc_md5
           |FROM enc8 ORDER BY doc_id""".stripMargin))),

QueryDef("t30_token_fertility",
      // tokenizer fertility by language: BPE tokens per whitespace word
      // and bytes per BPE token for each lang bucket — the standard
      // tokenizer-equity audit (a tokenizer trained on English spends
      // 2-3× more tokens per word on underrepresented languages, which
      // silently taxes their context budget). Composes the learned
      // 8-merge tokenizer (bpe1's train), the scan-local native encode,
      // and byte/word counts into one per-lang aggregate; the oracle
      // replays training, encoding, and both ratios end-to-end.
      (s, dir) => {
        val d = docs(s, dir)
        val merges = graft.functions.BpeFunctions
          .train(d, "text", numMerges = 8)
          .orderBy("rank").collect() // 8 rows — bounded by construction
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val enc = graft.functions.BpeFunctions.encode(d, "doc_id", "text", merges)
          .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"))
        d.select(col("doc_id"), col("lang"),
            octet_length(col("text")).cast("long").as("n_bytes"),
            T.tokenCount(col("text")).as("n_words"))
          .join(enc, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_bytes")).as("n_bytes"),
            round(sum(col("n_tokens")).cast("double") /
              sum(col("n_words")).cast("double"), 6).as("tokens_per_word"),
            round(sum(col("n_bytes")).cast("double") /
              sum(col("n_tokens")).cast("double"), 6).as("bytes_per_token"))
          .orderBy("lang")
      },
      Some(bpeOracle(8,
        s""", tok AS (
           |  SELECT doc_id,
           |    CAST(CASE WHEN enc = '' THEN 0
           |              ELSE len(string_split(trim(enc, '${graft.functions.BpeFunctions.Sep}'),
           |                       '${graft.functions.BpeFunctions.Sep}${graft.functions.BpeFunctions.Sep}'))
           |         END AS BIGINT) AS n_tokens
           |  FROM enc8),
           |w AS (
           |  SELECT d.lang, strlen(d.text) AS n_bytes,
           |    CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS BIGINT) AS n_words,
           |    t.n_tokens
           |  FROM documents d JOIN tok t USING (doc_id))
           |SELECT lang, count(*) AS n_docs,
           |  CAST(SUM(n_words) AS BIGINT) AS n_words,
           |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
           |  round(CAST(SUM(n_tokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE), 6) AS tokens_per_word,
           |  round(CAST(SUM(n_bytes) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6) AS bytes_per_token
           |FROM w GROUP BY lang ORDER BY lang""".stripMargin))),

QueryDef("mix1_token_accounting",
      // training-mixture accounting: docs and LEARNED-tokenizer token
      // totals per (source, lang), with each cell's share of the global
      // token budget — the report a mixture-weighting pass consumes.
      // The per-group frame is aggregated once and pinned; the global
      // total is a broadcast single-row cross join, never a window.
      (s, dir) => {
        val d = docs(s, dir)
        val merges = graft.functions.BpeFunctions
          .train(d, "text", numMerges = 8)
          .orderBy("rank").collect() // 8 rows — bounded by construction
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val enc = graft.functions.BpeFunctions
          .encode(d, "doc_id", "text", merges)
          .select(col("doc_id"), size(col("tokens")).as("n_tokens"))
        val perCell = graft.Caches.trackedPersist(
          enc.join(d.select("doc_id", "source", "lang"), "doc_id")
            .groupBy("source", "lang")
            .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = perCell.agg(sum("tokens").as("_tot"))
        perCell.crossJoin(broadcast(tot))
          .select(col("source"), col("lang"), col("docs"), col("tokens"),
            round(col("tokens").cast("double") / col("_tot") * 100, 6)
              .as("token_share_pct"))
          .orderBy("source", "lang")
      },
      // the final segment rides the generated WITH-list: it starts with
      // ", tok AS (" so the extra CTEs chain onto the bpe blocks
      Some(bpeOracle(8,
        s""", tok AS (
           |  SELECT doc_id,
           |       CAST(CASE WHEN enc = '' THEN 0
           |                 ELSE len(string_split(trim(enc, '${graft.functions.BpeFunctions.Sep}'),
           |                          '${graft.functions.BpeFunctions.Sep}${graft.functions.BpeFunctions.Sep}'))
           |            END AS INTEGER) AS n FROM enc8),
           |g AS (
           |  SELECT d.source, d.lang, count(*) AS docs,
           |         CAST(sum(n) AS BIGINT) AS tokens
           |  FROM tok JOIN documents d USING (doc_id) GROUP BY 1, 2),
           |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM g)
           |SELECT source, lang, docs, tokens,
           |       round(CAST(tokens AS DOUBLE) / tot * 100, 6) AS token_share_pct
           |FROM g, t ORDER BY source, lang""".stripMargin))),

QueryDef("card1_corpus_card",
      // the one-row corpus "data card": volumes, language/source
      // diversity, token/char means, exact-dup rate (1 − distinct
      // normalized fingerprints ÷ docs), English share — ONE fused
      // aggregation pass over the corpus (the distincts expand
      // map-side; nothing user- or doc-sized leaves the executors).
      (s, dir) => docs(s, dir)
        .select(col("lang"), col("source"), col("n_chars"),
          T.tokenCount(col("text")).as("toks"),
          T.fingerprint(col("text")).as("fp"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum("toks").as("total_tokens"),
          round(avg("toks"), 6).as("avg_tokens"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          round(lit(1.0) - countDistinct(col("fp")).cast("double") / count(lit(1)), 6)
            .as("dup_rate"),
          round(sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double")
            / count(lit(1)) * 100, 6).as("pct_english")),
      Some("""WITH d AS (
             |  SELECT lang, source, n_chars,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
             |    md5(regexp_replace(regexp_replace(lower(text),
             |        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fp
             |  FROM documents)
             |SELECT count(*) AS n_docs,
             |       count(DISTINCT lang) AS n_langs,
             |       count(DISTINCT source) AS n_sources,
             |       CAST(sum(toks) AS BIGINT) AS total_tokens,
             |       round(avg(toks), 6) AS avg_tokens,
             |       round(avg(n_chars), 6) AS avg_chars,
             |       round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6)
             |         AS dup_rate,
             |       round(CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0)
             |               AS DOUBLE) / count(*) * 100, 6) AS pct_english
             |FROM d""".stripMargin)),

QueryDef("sd1_semantic_decontaminate",
      // embedding-level holdout decontamination: the eval slice
      // (vec_id % 25 == 0) aggregates to ONE broadcast array row; the
      // corpus scan computes its max holdout cosine as a scan-local
      // fold over the codegen'd VecCosine kernel — no shuffle, corpus
      // read exactly once.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val hold = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
          .select(col("embedding"))
        S.semanticDecontaminate(
            emb.filter(pmod(col("vec_id"), lit(25)) =!= 0), hold, tau = 0.35)
          .select(col("vec_id"), col("max_holdout_cos"), col("contaminated"))
          .orderBy("vec_id")
      },
      Some("""WITH h AS (
             |  SELECT CAST(embedding AS DOUBLE[]) AS hv
             |  FROM embeddings WHERE vec_id % 25 = 0),
             |c AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings WHERE vec_id % 25 <> 0),
             |m AS (
             |  SELECT c.vec_id,
             |         max(round(list_cosine_similarity(c.v, h.hv), 6))
             |           AS max_holdout_cos
             |  FROM c, h GROUP BY c.vec_id)
             |SELECT vec_id, max_holdout_cos,
             |       max_holdout_cos >= 0.35 AS contaminated
             |FROM m ORDER BY vec_id""".stripMargin)),

QueryDef("c1_decontamination",
      // train/eval overlap audit: per training doc, distinct word
      // 3-grams shared with the held-out set (doc_id % 50 == 0 stands in
      // for the benchmark suite). The held-out gram set broadcasts, so
      // the corpus side joins map-side with no shuffle of train grams
      // until the per-doc count. n=3 on this synthetic vocab plays the
      // role 13-grams do on real text (standard published setting).
      (s, dir) => {
        val d = docs(s, dir)
        D.contaminationReport(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, unnest(
             |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
             |                i -> array_to_string(w[i:i+2], ' '))) END) AS g
             |  FROM toks),
             |test AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
             |SELECT doc_id, count(*) AS n_shared_grams
             |FROM grams JOIN test USING (g)
             |WHERE doc_id % 50 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

QueryDef("c2_pii_redaction",
      // PII scrub over a corpus with PLANTED emails/phones/IPs (the raw
      // synthetic docs carry none — planting creates the condition under
      // test, the s2 pattern): count matches and redact, as a pure
      // codegen regexp projection. The oracle replays the identical
      // plant + pattern chain in RE2 — the patterns are written in the
      // Java∩RE2 common subset so both engines see the same matches —
      // and compares the redacted text by md5.
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" from 192.168.1.77"))
            .otherwise(lit(""))).as("text"))
        planted.select(col("doc_id"),
          T.piiCount(col("text")).as("n_pii"),
          md5(T.redactPii(col("text"))).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 7 = 0
             |            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
             |            ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0
             |            THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |            ELSE '' END
             |    || CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.1.77' ELSE '' END
             |    AS text
             |  FROM documents),
             |p1 AS (SELECT doc_id, text,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS c1,
             |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g') AS t1,
             |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<PII>', 'g') AS r1
             |  FROM planted),
             |p2 AS (SELECT doc_id, c1,
             |  CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS c2,
             |  regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', ' ', 'g') AS t2,
             |  regexp_replace(r1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<PII>', 'g') AS r2
             |  FROM p1),
             |p3 AS (SELECT doc_id, c1, c2,
             |  CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS c3,
             |  regexp_replace(t2, '\b\d{3}-\d{2}-\d{4}\b', ' ', 'g') AS t3,
             |  regexp_replace(r2, '\b\d{3}-\d{2}-\d{4}\b', '<PII>', 'g') AS r3
             |  FROM p2),
             |p4 AS (SELECT doc_id, c1, c2, c3,
             |  CAST(len(regexp_extract_all(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS c4,
             |  regexp_replace(r3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PII>', 'g') AS r4
             |  FROM p3)
             |SELECT doc_id, c1 + c2 + c3 + c4 AS n_pii, md5(r4) AS redacted_md5
             |FROM p4 ORDER BY doc_id""".stripMargin)),

QueryDef("c3_corpus_clean_md5",
      // the COMPOSED corpus pipeline oracle-verified end-to-end: gates
      // (token count, quality, bigram repetition) -> PII scrub -> exact
      // fingerprint dedup -> MinHash-LSH near-dup drop, all through the
      // REAL CorpusPipeline.clean with only the near-dup hash swapped to
      // the engine-shared md5 form (the m1b twin pattern). Every stage's
      // SQL is the already-hash-matched CTE from its standalone query
      // (t7 gates, c2 scrub, d1 dedup, m1b LSH) stitched in clean()'s
      // order; output binds survivors AND their scrubbed bytes by md5.
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        graft.corpus.CorpusPipeline.clean(docs(s, dir), "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c3OracleSql)),

QueryDef("c3b_corpus_clean_prod",
      // the PRODUCTION twin of c3: identical gates, scrub, exact-dedup
      // and LSH geometry (16 hashes, 4 bands, 0.7), but the default
      // xxhash64 hash family instead of the oracle-replayable md5 form
      // — the number a user actually pays for the composed clean. No
      // oracle by the m1/m1b pattern (DuckDB lacks xxhash64 seeds);
      // candidate sets differ only by banding randomness and every
      // candidate is verified by EXACT Jaccard in both variants, so the
      // survivor sets agree wherever both bandings surface the same
      // true near-dup pairs. Rows-only driver check; c3 carries the
      // full hash-verified replay of the identical pipeline shape.
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7)
        graft.corpus.CorpusPipeline.clean(docs(s, dir), "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      None),

QueryDef("c4_corpus_semantic_md5",
      // c3 PLUS the embedding tier, still through the REAL clean():
      // chunk vectors (10 per doc, with doc 23's chunks overridden by a
      // perturbed copy of doc 7's so one semantic near-dup pair exists)
      // -> mean-pool (6dp) -> hyperplane LSH -> exact-cosine verify ->
      // transitive-cluster drop. The oracle continues c3's CTEs with
      // the s5 pooling, the s2 plane literals, and the d7 recursive
      // closure. quantize=false: int8 rounding is the one step held to
      // a recall bound rather than SQL equality (s4's contract).
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        val base = t(s, dir, "embeddings")
          .select(expr("vec_id div 10").as("doc_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val chunks = base.filter(col("doc_id") =!= 23L)
          .unionAll(base.filter(col("doc_id") === 7L)
            .select(lit(23L).as("doc_id"),
              transform(col("embedding"), x => x + lit(0.002)).as("embedding")))
        // 32-bit signatures (8 bits/band): at sf0.1's 5,000 chunked
        // docs, 16-bit/4-band gives only 16 buckets per band and ~n²/32
        // false candidates; 256 buckets per band keeps the candidate
        // join linear-ish while the planted pair (cosine ~0.9999) still
        // matches a band with probability ~1 - 4e-7
        val sem = graft.corpus.SemanticConfig(dim = 64, nBits = 32,
          bands = 4, minCosine = 0.9, quantize = false)
        graft.corpus.CorpusPipeline.clean(docs(s, dir), "doc_id", "text", cfg,
          chunkEmbeddings = Some(chunks), semantic = Some(sem))
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c4OracleSql)),

QueryDef("c8_line_dedup_clean",
      // the composed clean with stage-0 duplicate-LINE removal armed
      // (CorpusConfig.lineDedupMinChars): every doc carries a shared
      // cookie banner and one doc in ten is re-crawled with the banner
      // on the OTHER side — line dedup strips the boilerplate before
      // quality gating or fingerprinting, so each re-crawl collapses
      // onto its original at the exact tier (the reason real pipelines
      // run paragraph dedup first). Same md5 hash family and geometry
      // as c3; the oracle prefixes the d14 line CTEs onto the c3 chain.
      (s, dir) => {
        val d = docs(s, dir)
        val banner = "SHARED COOKIE BANNER TEXT HERE"
        val planted = d.select(col("doc_id"),
            concat(lit(banner), lit("\n"), col("text")).as("text"))
          .unionByName(d.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat(col("text"), lit("\n"), lit(banner)).as("text")))
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))),
          lineDedupMinChars = Some(10))
        graft.corpus.CorpusPipeline.clean(planted, "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c8OracleSql)),

QueryDef("c7_decontaminated_clean_md5",
      // the composed clean with the decontamination DROP gate armed:
      // docs ≢ 0 (mod 50) clean through the full c3 text chain, then
      // any survivor sharing a word 3-gram with the held-out suite
      // (doc_id % 50 == 0, the c1 convention) drops. The holdout gram
      // set broadcasts; nothing corpus-shaped moves for the gate.
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))),
          decontamNgram = 3)
        val d = docs(s, dir)
        graft.corpus.CorpusPipeline.clean(
            d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", cfg,
            holdout = Some(d.filter(col("doc_id") % 50 === 0)))
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c7OracleSql)),

QueryDef("c5_incremental_append_md5",
      // the INCREMENTAL ingest composition, oracle-verified end-to-end:
      // a new batch (docs >= 250 plus re-submitted copies of docs < 30
      // under shifted ids — the nightly re-crawl case) is cleaned
      // internally and then dropped against the already-ingested corpus
      // (docs < 250) by exact fingerprint anti-join + the cross-side
      // banded LSH join — the corpus is never re-paired with itself.
      // The md5-hash twin of the production xxhash64 path (m1b pattern).
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        val d = docs(s, dir)
        val existing = d.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 30)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        graft.corpus.CorpusPipeline.appendBatch(
            existing, batch, "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c5OracleSql)),

QueryDef("c11_containment_append_md5",
      // c5's incremental append with the CONTAINMENT tier armed
      // ([[graft.corpus.CorpusPipeline.appendBatch]] +
      // [[DedupFunctions.containmentPairsAgainst]]): the batch carries
      // verbatim excerpts of existing docs (≈47% of a doc — under the
      // 0.7-Jaccard LSH bar, so only the containment tier can catch
      // them) alongside genuinely fresh docs. The md5 winnow twin of
      // the production xxhash64 path; the oracle replays clean →
      // exact → cross-LSH → stored-winnow containment end to end.
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))),
          containmentThreshold = Some(0.7),
          winnowHash = c => md5(c.cast("binary")))
        val d = docs(s, dir)
        val existing = d.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionAll(d.filter(col("doc_id") % 25 === 0 && col("doc_id") < 250)
            .select((col("doc_id") + 100000).as("doc_id"),
              substring(col("text"), 40, 140).as("text")))
        graft.corpus.CorpusPipeline.appendBatch(
            existing, batch, "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c11OracleSql)),

QueryDef("c5c_append_bloom",
      // c5's append through the BLOOM-GATED exact tier: the corpus
      // fingerprint sketch proves most batch rows absent before the
      // anti-join, so only bloom hits touch the stored fingerprint
      // table. The gate is result-transparent by construction (misses
      // are proofs of absence; hits still verify against the real
      // index), so the full c5 oracle applies UNCHANGED — the
      // hash-match is the proof the gate never drops or admits a row
      // the anti-join wouldn't.
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        val d = docs(s, dir)
        val existing = d.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 30)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val idx = graft.corpus.CorpusPipeline.buildTextIndex(
          existing, "doc_id", "text", cfg)
        val bloom = D.fingerprintBloom(idx.fingerprints, "fp",
          expectedItems = 100000L)
        graft.corpus.CorpusPipeline.appendBatchIndexed(
            idx, batch, "doc_id", "text", cfg, fpBloom = Some(bloom))
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c5OracleSql)),

QueryDef("c5b_append_prod",
      // the PRODUCTION twin of c5 (the c3b pattern): identical batch/
      // corpus split and LSH geometry, default xxhash64 hashes — the
      // incremental append cost a nightly job actually pays. Rows-only
      // driver check; exact-Jaccard verification makes the survivor set
      // agree with c5 wherever both bandings surface the true pairs.
      (s, dir) => {
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7)
        val d = docs(s, dir)
        val existing = d.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 30)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        graft.corpus.CorpusPipeline.appendBatch(
            existing, batch, "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      None),

QueryDef("c6_semantic_append_md5",
      // c5's incremental append with BOTH semantic arms armed, oracle-
      // verified end-to-end: the batch cleans internally through text
      // AND embedding tiers, then drops against the corpus by exact
      // fingerprint, cross-side text LSH, and cross-side embedding LSH
      // — the stored-SemanticIndex shape (appendBatch derives the same
      // index buildSemanticIndex materializes). A planted doc (900260:
      // gate-proof fresh text, chunk vectors = existing doc 7's shifted
      // by 0.002) survives every text stage and MUST drop at the
      // vs-corpus embedding arm — proving that arm fires, not just
      // compiles. md5 hash twin + quantize=false, c4's oracle contract.
      (s, dir) => {
        import s.implicits._
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        val sem = graft.corpus.SemanticConfig(dim = 64, nBits = 32,
          bands = 4, minCosine = 0.9, quantize = false)
        val d = docs(s, dir)
        val existing = d.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("text"))
        val batch = d.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 30)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
          .unionAll(Seq((900260L, c6PlantText)).toDF("doc_id", "text"))
        val base = t(s, dir, "embeddings")
          .select(expr("vec_id div 10").as("doc_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val exCh = base.filter(col("doc_id") < 250)
        val bCh = base.filter(col("doc_id") >= 250)
          .unionAll(base.filter(col("doc_id") === 7L)
            .select(lit(900260L).as("doc_id"),
              transform(col("embedding"), x => x + lit(0.002)).as("embedding")))
        graft.corpus.CorpusPipeline.appendBatch(
            existing, batch, "doc_id", "text", cfg,
            existingChunks = Some(exCh), batchChunks = Some(bCh),
            semantic = Some(sem))
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(c6OracleSql)),

QueryDef("mm1_media_dedup",
      // multimodal exact dedup with a REAL oracle: the media column is a
      // synthetic deterministic binary — the UTF-8 bytes of text#lang,
      // which DuckDB's encode() rebuilds identically — duplicated for
      // doc_id < 40 under shifted asset ids (the re-crawled-asset case).
      // dedupByFingerprint keys on xxhash64(media), which DuckDB lacks,
      // but the SURVIVOR SET depends only on byte-equality groups (min
      // id per group), so the hash function cancels out of the answer
      // and the oracle replays it with a min-per-payload window. Output
      // compares byte length and md5 of the surviving binaries.
      (s, dir) => {
        val d = docs(s, dir)
        def assets(f: DataFrame, shift: Long) = f.select(
          (col("doc_id") + shift).as("asset_id"),
          concat(col("text"), lit("#"), col("lang")).cast("binary").as("media"))
        val all = assets(d, 0L)
          .unionAll(assets(d.filter(col("doc_id") < 40), 100000L))
        graft.multimodal.Multimodal.dedupByFingerprint(all, "asset_id", "media")
          .select(col("asset_id"),
            length(col("media")).cast("long").as("n_bytes"),
            md5(col("media")).as("media_md5"))
          .orderBy("asset_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id AS asset_id, text || '#' || lang AS payload
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text || '#' || lang
             |  FROM documents WHERE doc_id < 40),
             |k AS (
             |  SELECT asset_id, payload,
             |         min(asset_id) OVER (PARTITION BY payload) AS keep
             |  FROM a)
             |SELECT asset_id,
             |       CAST(octet_length(encode(payload)) AS BIGINT) AS n_bytes,
             |       md5(payload) AS media_md5
             |FROM k WHERE asset_id = keep ORDER BY asset_id""".stripMargin)),

QueryDef("mm2_thumbnails",
      // the REAL thumbnail pipeline end-to-end (r15 — the codec
      // stand-in retired for images): per doc, a deterministic PNG
      // ([[ImageCodec.synthPng]] — formula pixels, REAL ImageIO
      // encode) at (64×48|48×24|32×16) by doc_id%3 → [[Multimodal
      // .withThumbnails]] maxDim=16 (REAL ImageIO decode →
      // exact-coverage area average → PNG re-encode) → [[Multimodal
      // .decodeImages]] (REAL decode of the thumbnail bytes) → dims,
      // channel sums, position-weighted checksum. Every stage crosses
      // the actual codec, twice; the oracle replays the pixel formula
      // and the k×k box mean ((2Σ+k²)//2k², k ∈ {4,3,2} — the integer
      // factors the dims pin) in exact integers, so a hash match
      // proves the decode→downscale→encode→decode chain is
      // pixel-exact cross-engine. Narrow mapPartitions throughout;
      // media bytes never shuffle.
      (s, dir) => {
        import s.implicits._
        val assets = docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val m = (id % 3).toInt
            val (w, h) = m match {
              case 0 => (64, 48); case 1 => (48, 24); case _ => (32, 16)
            }
            graft.multimodal.Multimodal.MediaAsset(id,
              graft.multimodal.ImageCodec.synthPng(id, w, h),
              graft.multimodal.Multimodal.MediaMeta("image/png", w, h, 0L))
          })
        val thumbs = graft.multimodal.Multimodal.withThumbnails(assets, maxDim = 16)
        graft.multimodal.Multimodal.decodeImages(thumbs)
          .select(col("asset_id"), col("width"), col("height"), col("n_px"),
            col("r_sum"), col("g_sum"), col("b_sum"), col("px_wsum"))
          .orderBy("asset_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id AS asset_id,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 64 WHEN 1 THEN 48 ELSE 32 END AS w,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 48 WHEN 1 THEN 24 ELSE 16 END AS h,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 4 WHEN 1 THEN 3 ELSE 2 END AS k
             |  FROM documents),
             |px AS (
             |  SELECT asset_id, k, w, x.x AS x, y.y AS y,
             |    (asset_id*31 + x.x*7 + y.y*13) % 256 AS r,
             |    (asset_id*17 + x.x*3 + y.y*29) % 256 AS g,
             |    (asset_id*23 + x.x*11 + y.y*5) % 256 AS b
             |  FROM a, range(0, 64) x(x), range(0, 48) y(y)
             |  WHERE x.x < w AND y.y < h),
             |tp AS (
             |  SELECT asset_id, w//k AS ow, x//k AS ox, y//k AS oy,
             |    (2*sum(r) + k*k) // (2*k*k) AS tr,
             |    (2*sum(g) + k*k) // (2*k*k) AS tg,
             |    (2*sum(b) + k*k) // (2*k*k) AS tb
             |  FROM px GROUP BY asset_id, w//k, x//k, y//k, k)
             |SELECT asset_id,
             |  CAST(max(ow) AS INTEGER) AS width,
             |  CAST(max(oy) + 1 AS INTEGER) AS height,
             |  CAST(count(*) AS BIGINT) AS n_px,
             |  CAST(sum(tr) AS BIGINT) AS r_sum,
             |  CAST(sum(tg) AS BIGINT) AS g_sum,
             |  CAST(sum(tb) AS BIGINT) AS b_sum,
             |  CAST(sum((oy*ow + ox + 1) * (tr*65536 + tg*256 + tb)) AS BIGINT)
             |    AS px_wsum
             |FROM tp GROUP BY asset_id ORDER BY asset_id""".stripMargin)),

QueryDef("mm5_image_decode",
      // the REAL decode audit ([[Multimodal.decodeImages]] over
      // [[ImageCodec.synthPng]] bytes): per asset, dims + per-channel
      // sums + the position-weighted checksum Σ(idx+1)·(r·2¹⁶+g·2⁸+b)
      // over the row-major raster of the ACTUAL ImageIO-decoded
      // pixels. The oracle recomputes the formula the PNGs were
      // rendered from — a hash match is a cross-engine proof the
      // codec round-trip (encode on write, decode on read) is
      // pixel-exact, pinning the contract mm2/mm6 and the embedding
      // path stand on. One narrow scan; nothing but 9 compact columns
      // survives the stage.
      (s, dir) => {
        import s.implicits._
        val assets = docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val m = (id % 3).toInt
            val (w, h) = m match {
              case 0 => (64, 48); case 1 => (48, 24); case _ => (32, 16)
            }
            graft.multimodal.Multimodal.MediaAsset(id,
              graft.multimodal.ImageCodec.synthPng(id, w, h),
              graft.multimodal.Multimodal.MediaMeta("image/png", w, h, 0L))
          })
        graft.multimodal.Multimodal.decodeImages(assets)
          .select(col("asset_id"), col("width"), col("height"), col("n_px"),
            col("r_sum"), col("g_sum"), col("b_sum"), col("px_wsum"))
          .orderBy("asset_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id AS asset_id,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 64 WHEN 1 THEN 48 ELSE 32 END AS w,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 48 WHEN 1 THEN 24 ELSE 16 END AS h
             |  FROM documents),
             |px AS (
             |  SELECT asset_id, w, h, x.x AS x, y.y AS y,
             |    (asset_id*31 + x.x*7 + y.y*13) % 256 AS r,
             |    (asset_id*17 + x.x*3 + y.y*29) % 256 AS g,
             |    (asset_id*23 + x.x*11 + y.y*5) % 256 AS b
             |  FROM a, range(0, 64) x(x), range(0, 48) y(y)
             |  WHERE x.x < w AND y.y < h)
             |SELECT asset_id,
             |  CAST(max(w) AS INTEGER) AS width,
             |  CAST(max(h) AS INTEGER) AS height,
             |  CAST(count(*) AS BIGINT) AS n_px,
             |  CAST(sum(r) AS BIGINT) AS r_sum,
             |  CAST(sum(g) AS BIGINT) AS g_sum,
             |  CAST(sum(b) AS BIGINT) AS b_sum,
             |  CAST(sum((y*w + x + 1) * (r*65536 + g*256 + b)) AS BIGINT)
             |    AS px_wsum
             |FROM px GROUP BY asset_id ORDER BY asset_id""".stripMargin)),

QueryDef("mm6_patch_embedding",
      // the REAL image embedding ([[Multimodal.imagePatchEmbeddings]] —
      // 4×4 patch-mean luma over ImageIO-decoded pixels, the long-form
      // twin of what [[Multimodal.extractFeatures]] packs into its
      // float vector): per (asset, patch), the exact integer luma sum
      // 299r+587g+114b, the patch pixel count, and the 6dp mean (ONE
      // double division — the lattice-sum transport rule). Patch
      // boundaries are integer-floor y·4/h, x·4/w; the dims are
      // 4-divisible so bucketing is exact. The oracle replays patches
      // from the pixel formula; matching means the embedding a
      // similarity pipeline consumes derives from real pixels,
      // deterministically, on any engine.
      (s, dir) => {
        import s.implicits._
        val assets = docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val m = (id % 3).toInt
            val (w, h) = m match {
              case 0 => (64, 48); case 1 => (48, 24); case _ => (32, 16)
            }
            graft.multimodal.Multimodal.MediaAsset(id,
              graft.multimodal.ImageCodec.synthPng(id, w, h),
              graft.multimodal.Multimodal.MediaMeta("image/png", w, h, 0L))
          })
        graft.multimodal.Multimodal.imagePatchEmbeddings(assets, grid = 4)
          .orderBy("asset_id", "patch_idx")
      },
      Some("""WITH a AS (
             |  SELECT doc_id AS asset_id,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 64 WHEN 1 THEN 48 ELSE 32 END AS w,
             |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 48 WHEN 1 THEN 24 ELSE 16 END AS h
             |  FROM documents),
             |px AS (
             |  SELECT asset_id,
             |    CAST((y.y*4)//h*4 + (x.x*4)//w AS INTEGER) AS patch_idx,
             |    299*((asset_id*31 + x.x*7 + y.y*13) % 256)
             |      + 587*((asset_id*17 + x.x*3 + y.y*29) % 256)
             |      + 114*((asset_id*23 + x.x*11 + y.y*5) % 256) AS luma
             |  FROM a, range(0, 64) x(x), range(0, 48) y(y)
             |  WHERE x.x < w AND y.y < h)
             |SELECT asset_id, patch_idx,
             |  round(CAST(sum(luma) AS DOUBLE) / (count(*) * 1000.0), 6)
             |    AS mean_luma
             |FROM px GROUP BY 1, 2 ORDER BY asset_id, patch_idx""".stripMargin)),

QueryDef("mm3_frame_sample",
      // frame sampling under oracle ([[Multimodal.sampleFrames]]):
      // planted durations (doc_id%7 × 4s — the %7==0 assets are stills
      // and must contribute NO rows), everyMs=2500. The stub's seek
      // contract is arithmetic — frame i at ts i·2500 ms, byte offset
      // ts·1024 — so the oracle replays the whole explode.
      (s, dir) => {
        import s.implicits._
        val assets = docs(s, dir).select(col("doc_id").as("asset_id"),
            lit("v").cast("binary").as("media"),
            struct(lit("video/mp4").as("mime"), lit(1).as("width"),
              lit(1).as("height"),
              ((col("doc_id") % 7) * 4000L).as("durationMs")).as("meta"))
          .as[graft.multimodal.Multimodal.MediaAsset]
        graft.multimodal.Multimodal.sampleFrames(assets, everyMs = 2500L)
          .orderBy("asset_id", "frame_idx")
      },
      Some("""WITH a AS (
             |  SELECT doc_id AS asset_id, (doc_id % 7) * 4000 AS dur
             |  FROM documents)
             |SELECT asset_id, CAST(i AS INTEGER) AS frame_idx,
             |       i * 2500 AS ts_ms, i * 2500 * 1024 AS byte_offset
             |FROM (SELECT asset_id,
             |        unnest(generate_series(0, CAST(ceil(dur / 2500.0) AS BIGINT) - 1)) AS i
             |      FROM a WHERE dur > 0)
             |ORDER BY asset_id, frame_idx""".stripMargin)),

QueryDef("mm7_pixel_dedup",
      // re-encoded-duplicate dedup ([[Multimodal.dedupByPixels]] —
      // keyed on [[Multimodal.pixelFingerprint]], XXH64 of the DECODED
      // raster): the same image served as PNG and as BMP shares the
      // key while every byte fingerprint differs — the CDN-re-encode /
      // thumbnail-cache class mm1's byte dedup structurally misses.
      // Planted: every doc as PNG; doc_id < 40 ALSO as BMP under
      // shifted asset ids (must drop — the PNG original wins on min
      // id); 10 fresh BMP-only images (ids 900000+, survive wherever
      // their pixel class is new — the container-independence control).
      // The survivor SET depends only on pixel-equality groups, so the
      // hash cancels out of the answer (the mm1 argument) and the
      // oracle replays it arithmetically: synthImage repeats every 256
      // ids (mod-256 channels) and dims every 3, so pixels are equal
      // IFF id ≡ id' (mod 768) — the oracle groups by fid % 768, which
      // also captures the natural repeats inside documents at SFs past
      // 768 docs. Keying is one narrow decode projection; the survivor
      // choice one min_by hash agg (media shuffles only inside
      // surviving candidates' structs).
      (s, dir) => {
        import s.implicits._
        def dims(m: Int): (Int, Int) = m match {
          case 0 => (64, 48); case 1 => (48, 24); case _ => (32, 16)
        }
        val ids = docs(s, dir).select(col("doc_id")).as[Long]
        val base = ids.mapPartitions(_.map { id =>
          val (w, h) = dims((id % 3).toInt)
          graft.multimodal.Multimodal.MediaAsset(id,
            graft.multimodal.ImageCodec.synthPng(id, w, h),
            graft.multimodal.Multimodal.MediaMeta("image/png", w, h, 0L))
        })
        val reenc = ids.filter(_ < 40L).mapPartitions(_.map { id =>
          val (w, h) = dims((id % 3).toInt)
          graft.multimodal.Multimodal.MediaAsset(id + 100000L,
            graft.multimodal.ImageCodec.encode(
              graft.multimodal.ImageCodec.synthImage(id, w, h), "bmp"),
            graft.multimodal.Multimodal.MediaMeta("image/bmp", w, h, 0L))
        })
        val fresh = s.range(0, 10).as[Long].mapPartitions(_.map { i =>
          val fid = 900000L + i
          val (w, h) = dims((fid % 3).toInt)
          graft.multimodal.Multimodal.MediaAsset(fid,
            graft.multimodal.ImageCodec.encode(
              graft.multimodal.ImageCodec.synthImage(fid, w, h), "bmp"),
            graft.multimodal.Multimodal.MediaMeta("image/bmp", w, h, 0L))
        })
        graft.multimodal.Multimodal.dedupByPixels(
            base.unionByName(reenc).unionByName(fresh))
          .select(col("asset_id"),
            col("meta.width").as("width"), col("meta.height").as("height"))
          .orderBy("asset_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id AS asset_id, doc_id AS fid FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id < 40
             |  UNION ALL
             |  SELECT 900000 + t.i, 900000 + t.i FROM range(0, 10) t(i)),
             |g AS (
             |  SELECT asset_id, fid, fid % 768 AS grp,
             |    CASE CAST(fid % 3 AS INTEGER) WHEN 0 THEN 64 WHEN 1 THEN 48 ELSE 32 END AS w,
             |    CASE CAST(fid % 3 AS INTEGER) WHEN 0 THEN 48 WHEN 1 THEN 24 ELSE 16 END AS h
             |  FROM u),
             |k AS (
             |  SELECT asset_id, w, h,
             |    min(asset_id) OVER (PARTITION BY grp) AS keep
             |  FROM g)
             |SELECT asset_id, CAST(w AS INTEGER) AS width,
             |       CAST(h AS INTEGER) AS height
             |FROM k WHERE asset_id = keep ORDER BY asset_id""".stripMargin)),

QueryDef("mm8_perceptual_dedup",
      // perceptual near-dup dedup ([[Multimodal.dedupByAHash]] —
      // [[ImageCodec.aHashBits]] over the decoded raster: grid 8×8
      // patch luma sums, bit = patch strictly above the image mean via
      // the cross-multiplied integer comparison sumᵢ·N > S·countᵢ).
      // Planted: every doc as PNG; doc_id < 40 ALSO as a 2× nearest-
      // neighbor upscale under shifted ids — RESIZED duplicates, the
      // class mm1 (bytes) and mm7 (raster equality) both structurally
      // miss; aHash is invariant by construction (each upscaled patch
      // is the same source-pixel set ×4, so both cross-products scale
      // by k⁴) and the original wins on min id. The oracle replays the
      // WHOLE hash arithmetically from the synth pixel formula —
      // per-patch integer sums, the cross-multiplied bit, string_agg
      // in patch order — so a hash match proves decode + patch
      // bucketing + bit comparison agree cross-engine bit for bit.
      // Natural collisions (distinct ids, same 64-bit pattern — e.g.
      // the id ≡ id' mod 768 pixel-equal repeats) merge identically on
      // both sides. Keying is one narrow decode projection; survivor
      // choice one min_by hash agg.
      (s, dir) => {
        import s.implicits._
        def dims(m: Int): (Int, Int) = m match {
          case 0 => (64, 48); case 1 => (48, 24); case _ => (32, 16)
        }
        val ids = docs(s, dir).select(col("doc_id")).as[Long]
        val base = ids.mapPartitions(_.map { id =>
          val (w, h) = dims((id % 3).toInt)
          graft.multimodal.Multimodal.MediaAsset(id,
            graft.multimodal.ImageCodec.synthPng(id, w, h),
            graft.multimodal.Multimodal.MediaMeta("image/png", w, h, 0L))
        })
        val resized = ids.filter(_ < 40L).mapPartitions(_.map { id =>
          val (w, h) = dims((id % 3).toInt)
          val up = graft.multimodal.ImageCodec.upscaleNearest(
            graft.multimodal.ImageCodec.synthImage(id, w, h), 2)
          graft.multimodal.Multimodal.MediaAsset(id + 200000L,
            graft.multimodal.ImageCodec.encodePng(up),
            graft.multimodal.Multimodal.MediaMeta("image/png", up.width, up.height, 0L))
        })
        graft.multimodal.Multimodal.dedupByAHash(base.unionByName(resized))
          .select(col("asset_id"),
            col("meta.width").as("width"), col("meta.height").as("height"))
          .orderBy("asset_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id AS asset_id, doc_id AS fid, 1 AS k FROM documents
             |  UNION ALL
             |  SELECT doc_id + 200000, doc_id, 2 FROM documents WHERE doc_id < 40),
             |g AS (
             |  SELECT asset_id, fid, k,
             |    CASE CAST(fid % 3 AS INTEGER) WHEN 0 THEN 64 WHEN 1 THEN 48 ELSE 32 END * k AS w,
             |    CASE CAST(fid % 3 AS INTEGER) WHEN 0 THEN 48 WHEN 1 THEN 24 ELSE 16 END * k AS h
             |  FROM u),
             |px AS (
             |  SELECT asset_id,
             |    CAST((y.y*8)//h*8 + (x.x*8)//w AS INTEGER) AS patch_idx,
             |    299*((fid*31 + (x.x//k)*7 + (y.y//k)*13) % 256)
             |      + 587*((fid*17 + (x.x//k)*3 + (y.y//k)*29) % 256)
             |      + 114*((fid*23 + (x.x//k)*11 + (y.y//k)*5) % 256) AS luma
             |  FROM g, range(0, 128) x(x), range(0, 96) y(y)
             |  WHERE x.x < w AND y.y < h),
             |p AS (
             |  SELECT asset_id, patch_idx,
             |    sum(luma) AS s, count(*) AS c
             |  FROM px GROUP BY 1, 2),
             |b AS (
             |  SELECT asset_id, patch_idx, s, c,
             |    sum(s) OVER (PARTITION BY asset_id) AS st,
             |    sum(c) OVER (PARTITION BY asset_id) AS n
             |  FROM p),
             |hsh AS (
             |  SELECT asset_id,
             |    string_agg(CASE WHEN s*n > st*c THEN '1' ELSE '0' END,
             |               '' ORDER BY patch_idx) AS ahash
             |  FROM b GROUP BY asset_id),
             |kk AS (
             |  SELECT h2.asset_id, g.w, g.h,
             |    min(h2.asset_id) OVER (PARTITION BY h2.ahash) AS keep
             |  FROM hsh h2 JOIN g ON g.asset_id = h2.asset_id)
             |SELECT asset_id, CAST(w AS INTEGER) AS width,
             |       CAST(h AS INTEGER) AS height
             |FROM kk WHERE asset_id = keep ORDER BY asset_id""".stripMargin)),

QueryDef("mm9_audio_features",
      // REAL audio decode under oracle ([[Multimodal.audioWindowFeatures]]
      // — [[AudioCodec.decodeWav]] parses the RIFF/WAV container the
      // query's own [[AudioCodec.synthWav]] encoder wrote, so the hash
      // verifies the encode→parse→feature chain sample-exact, the mm5
      // convention for images). Planted lengths 800 + (id%5)·160 at
      // 16 kHz with windowMs=25 → 400-sample windows, lengths up to
      // 1440 → partial final windows exercised. Every feature is
      // integer-transported (n, Σs², peak, sign-flip crossings with
      // the window's first sample excluded — so the oracle replays
      // windows independently, no lag join) except the one double op:
      // rms = round6(sqrt(Σs²/n)).
      (s, dir) => {
        import s.implicits._
        val assets = docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val n = 800 + (id % 5).toInt * 160
            graft.multimodal.Multimodal.MediaAsset(id,
              graft.multimodal.AudioCodec.synthWav(id, n, 16000),
              graft.multimodal.Multimodal.MediaMeta("audio/wav", 0, 0,
                n * 1000L / 16000L))
          })
        graft.multimodal.Multimodal.audioWindowFeatures(assets, windowMs = 25)
          .orderBy("asset_id", "window_idx")
      },
      Some("""WITH u AS (
             |  SELECT doc_id AS asset_id, doc_id AS fid,
             |    800 + CAST(doc_id % 5 AS INTEGER)*160 AS ns FROM documents),
             |sm AS (
             |  SELECT asset_id, i.i AS i,
             |    ((fid*7919 + i.i*104729) % 65536) - 32768 AS s,
             |    CASE WHEN i.i % 400 <> 0
             |      THEN ((fid*7919 + (i.i-1)*104729) % 65536) - 32768 END AS sp
             |  FROM u, range(0, 1440) i(i) WHERE i.i < ns)
             |SELECT asset_id, CAST(i//400 AS INTEGER) AS window_idx,
             |  count(*) AS n_samples, CAST(sum(s*s) AS BIGINT) AS sum_sq,
             |  CAST(max(abs(s)) AS INTEGER) AS peak,
             |  CAST(sum(CASE WHEN sp*s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS zero_cross,
             |  round(sqrt(CAST(sum(s*s) AS DOUBLE)/count(*)), 6) AS rms
             |FROM sm GROUP BY 1, 2 ORDER BY asset_id, window_idx""".stripMargin)),

QueryDef("mm10_video_frames",
      // REAL video demux under oracle ([[Multimodal.videoFrameFeatures]]
      // — [[VideoCodec.decodeAvi]] parses the RIFF/AVI container the
      // query's own [[VideoCodec.synthAvi]] muxer wrote: uncompressed
      // 24-bit DIB frames, bottom-up BGR rows, 4-byte stride — all
      // exact byte arithmetic, the mm5/mm9 convention). Planted clip
      // lengths 2 + id%4 at 16×12, everyN=2 → frames 0,2,4 where they
      // exist; frame f's raster is the synth formula at
      // fid = id + 131071·f, which the oracle replays per sampled
      // frame (channel sums + the position-weighted checksum). A hash
      // match proves mux→demux→flip→BGR-unpack is pixel-exact
      // cross-engine — the codec stand-in now covers ONLY compressed
      // media, for every modality.
      (s, dir) => {
        import s.implicits._
        val assets = docs(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val nf = 2 + (id % 4).toInt
            graft.multimodal.Multimodal.MediaAsset(id,
              graft.multimodal.VideoCodec.synthAvi(id, nf, 16, 12),
              graft.multimodal.Multimodal.MediaMeta("video/avi", 16, 12,
                nf * 40L))
          })
        graft.multimodal.Multimodal.videoFrameFeatures(assets, everyN = 2)
          .orderBy("asset_id", "frame_idx")
      },
      Some("""WITH u AS (
             |  SELECT doc_id AS asset_id, doc_id AS fid,
             |    2 + CAST(doc_id % 4 AS INTEGER) AS nf FROM documents),
             |fr AS (
             |  SELECT asset_id, CAST(f.f AS INTEGER) AS frame_idx,
             |    fid + 131071*f.f AS ffid
             |  FROM u, range(0, 5) f(f)
             |  WHERE f.f < nf AND f.f % 2 = 0),
             |px AS (
             |  SELECT asset_id, frame_idx, y.y*16 + x.x + 1 AS pidx,
             |    (ffid*31 + x.x*7 + y.y*13) % 256 AS r,
             |    (ffid*17 + x.x*3 + y.y*29) % 256 AS g,
             |    (ffid*23 + x.x*11 + y.y*5) % 256 AS b
             |  FROM fr, range(0, 16) x(x), range(0, 12) y(y))
             |SELECT asset_id, frame_idx,
             |  CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
             |  count(*) AS n_px,
             |  CAST(sum(r) AS BIGINT) AS r_sum,
             |  CAST(sum(g) AS BIGINT) AS g_sum,
             |  CAST(sum(b) AS BIGINT) AS b_sum,
             |  CAST(sum(pidx*(r*65536 + g*256 + b)) AS BIGINT) AS px_wsum
             |FROM px GROUP BY 1, 2 ORDER BY asset_id, frame_idx""".stripMargin)),

QueryDef("pack1_sequence_packing",
      // deterministic sequence packing: documents into 512-token training
      // packs across 8 shards; the full per-doc assignment is the result
      // (all-integer math — any engine replays it bit-identically).
      (s, dir) => Sam.packSequences(
        docs(s, dir).select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budgetTokens = 512L, shards = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, shard, tok,
             |    CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - tok AS prefix_tokens
             |  FROM t)
             |SELECT doc_id, shard,
             |  CAST(prefix_tokens // 512 AS BIGINT) AS pack_id, prefix_tokens
             |FROM p ORDER BY doc_id""".stripMargin)),

QueryDef("pack2_packed_sequences",
      // the materialized training sequences pack1 assigns: per-pack doc
      // count, token total, and the id-ordered concatenated payload
      // (compared by md5 — the oracle replays the same string_agg).
      (s, dir) => Sam.materializePacks(
          docs(s, dir).select(col("doc_id"), col("text"),
            T.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "text", "n_tokens", budgetTokens = 512L, shards = 8)
        .select(col("shard"), col("pack_id"), col("n_docs"),
          col("pack_tokens"), md5(col("packed_text")).as("packed_md5"))
        .orderBy("shard", "pack_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text, doc_id % 8 AS shard,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, text, shard, tok,
             |    CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - tok AS prefix
             |  FROM t)
             |SELECT shard, CAST(prefix // 512 AS BIGINT) AS pack_id,
             |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens,
             |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS packed_md5
             |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

QueryDef("mix2_domain_kl",
      // KL / Jensen-Shannon divergence between the train and valid
      // splits' SOURCE distributions — the mixture-drift audit a
      // sampling pass runs before trusting a carved split (a skewed
      // carve silently changes the training mixture). Splits are the
      // d5 md5 hash carve; fractions are Laplace-smoothed (+1 over the
      // observed source set, the a14 convention); each per-source term
      // rounds 6dp and the terms SUM IN EXACT DECIMAL (the t20 fit-sum
      // contract). One data-sized agg to a |sources|-sized table;
      // totals broadcast back.
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"),
          Sam.splitColumn(col("doc_id").cast("string"), pctTrain = 80,
            pctValid = 10, hash = D.md5Hash60).as("split"))
          .filter(col("split").isin("train", "valid"))
        val counts = d.groupBy("source")
          .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ca"),
            sum(when(col("split") === "valid", 1L).otherwise(0L)).as("cb"))
        val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"),
          count(lit(1)).as("k"))
        val terms = counts.crossJoin(broadcast(tot))
          .withColumn("p", (col("ca") + 1).cast("double")
            / (col("na") + col("k")).cast("double"))
          .withColumn("q", (col("cb") + 1).cast("double")
            / (col("nb") + col("k")).cast("double"))
          .withColumn("m", (col("p") + col("q")) / 2)
          .withColumn("t_pq",
            round(col("p") * log(col("p") / col("q")), 6).cast("decimal(24,6)"))
          .withColumn("t_qp",
            round(col("q") * log(col("q") / col("p")), 6).cast("decimal(24,6)"))
          .withColumn("t_js",
            round((col("p") * log(col("p") / col("m"))
              + col("q") * log(col("q") / col("m"))) / 2, 6)
              .cast("decimal(24,6)"))
        terms.groupBy(col("na").as("n_train"), col("nb").as("n_valid"),
            col("k").as("n_sources"))
          .agg(sum("t_pq").cast("double").as("kl_train_valid"),
            sum("t_qp").cast("double").as("kl_valid_train"),
            sum("t_js").cast("double").as("js"))
      },
      Some("""WITH sp AS (
             |  SELECT doc_id, source,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
             |  FROM documents),
             |d AS (
             |  SELECT source,
             |    CASE WHEN bucket < 80 THEN 'train'
             |         WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
             |  FROM sp),
             |c AS (
             |  SELECT source,
             |    CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS ca,
             |    CAST(count(*) FILTER (WHERE split = 'valid') AS BIGINT) AS cb
             |  FROM d WHERE split IN ('train', 'valid') GROUP BY 1),
             |tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
             |              CAST(SUM(cb) AS BIGINT) AS nb,
             |              count(*) AS k FROM c),
             |pq AS (
             |  SELECT CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE) AS p,
             |         CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE) AS q,
             |         na, nb, k
             |  FROM c, tt),
             |t2 AS (
             |  SELECT na, nb, k,
             |    CAST(round(p * ln(p / q), 6) AS DECIMAL(24,6)) AS t_pq,
             |    CAST(round(q * ln(q / p), 6) AS DECIMAL(24,6)) AS t_qp,
             |    CAST(round((p * ln(p / ((p + q) / 2))
             |                + q * ln(q / ((p + q) / 2))) / 2, 6)
             |         AS DECIMAL(24,6)) AS t_js
             |  FROM pq)
             |SELECT na AS n_train, nb AS n_valid, k AS n_sources,
             |  CAST(SUM(t_pq) AS DOUBLE) AS kl_train_valid,
             |  CAST(SUM(t_qp) AS DOUBLE) AS kl_valid_train,
             |  CAST(SUM(t_js) AS DOUBLE) AS js
             |FROM t2 GROUP BY 1, 2, 3""".stripMargin)),

QueryDef("c12_classifier_gated_clean",
      // the quality-classifier tier COMPOSED into the corpus pipeline
      // (the RefinedWeb/LLaMA shape: model gate between rule filters
      // and dedup): cls1's NB scores gate the corpus at its own MEDIAN
      // (exact-interpolation percentile — a fixed τ can't track the
      // score drift across SFs), and the survivors run the full c3
      // text chain (gates → PII scrub → exact dedup → md5-form
      // MinHash-LSH). The oracle stitches the
      // already-hash-matched cls1 scoring CTEs in front of the c3
      // chain re-rooted at the gated table — every tier's SQL is the
      // one its standalone query verified.
      (s, dir) => {
        val d = docs(s, dir)
        val labeled = d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), (col("lang") === "en").as("label"))
        val (w, bias) = Cls.naiveBayesWeights(labeled, "text", "label",
          buckets = 1 << 16, hash = D.md5Hash60)
        // scored feeds BOTH the median aggregate and the gating join —
        // unpinned, the whole NB scoring chain (tokenize + hash +
        // weights join over every doc) executed twice (r15 pin, the
        // multi-consumer rule; released with the caller's Caches.scoped)
        val scored = graft.Caches.trackedPersist(
          Cls.scoreLinear(d, "doc_id", "text", w, bias,
            buckets = 1 << 16, hash = D.md5Hash60),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val med = scored.agg(expr("percentile(score, 0.5D)").as("_tau"))
        val kept = d.join(scored, Seq("doc_id")).crossJoin(broadcast(med))
          .filter(col("score") >= col("_tau"))
          .select(col("doc_id"), col("text"))
        val cfg = graft.corpus.CorpusConfig(
          minTokens = 20, minQuality = 50.0, maxDupBigramFrac = 0.3,
          numHashes = 16, bands = 4, nearDupThreshold = 0.7,
          minhashHash = (c, i) => D.md5Hash60(concat(c, lit("#"), lit(i))),
          minhashBucketHash = (c, b) => D.md5Hash60(concat(c, lit("#b#"), lit(b))))
        graft.corpus.CorpusPipeline.clean(kept, "doc_id", "text", cfg)
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("WITH " + nbScoreCtes +
        """,
          |scored AS (
          |  SELECT d.doc_id,
          |    round(1.0 / (1.0 + exp(-(coalesce(sc.m, 0.0) + pr.bias))), 6) AS score
          |  FROM documents d CROSS JOIN pr LEFT JOIN sc USING (doc_id)),
          |clsgated AS (
          |  SELECT d.doc_id, d.text
          |  FROM documents d JOIN scored USING (doc_id)
          |  WHERE scored.score >= (SELECT quantile_cont(score, 0.5)
          |                         FROM scored)),
          |""".stripMargin +
        corpusTextCtesFrom("clsgated") +
        """
          |SELECT e.doc_id, md5(e.text) AS text_md5
          |FROM exact e WHERE e.doc_id NOT IN (SELECT id_b FROM doomed)
          |ORDER BY doc_id""".stripMargin)),

QueryDef("c13_decontamination_composite",
      // BOTH decontamination tiers as one pipeline over documents +
      // embeddings, with a planted PARAPHRASE leak as the positive
      // control: the n-gram holdout gate ([[graft.functions
      // .DedupFunctions.contaminationReport]] — the c1 tier) sees only
      // exact token overlap, so a leaked eval item that was reworded
      // sails through it; the embedding tier ([[graft.functions
      // .SimilarityFunctions.semanticDecontaminate]] — the sd1 tier)
      // catches it by cosine. Holdout = id % 50 == 0 on both tables
      // (one benchmark suite, both its grams and its vectors). Plants:
      // one per holdout vector at doc_id + 1e6 — fresh literal text
      // (zero 3-gram overlap with the synthetic vocab) carrying the
      // holdout embedding nudged +0.01 on coordinate 1 (cosine ≈ 0.999:
      // a paraphrase, not a byte copy). Every plant MUST surface with
      // tier='semantic' — the proof the second tier earns its scan.
      // Scale shape: holdout grams broadcast (train grams never
      // shuffle before the per-doc count), holdout vectors fold in ONE
      // broadcast array row over a single corpus scan (the sd1 plan,
      // spec-pinned in DecontaminationCompositeSpec); the union is two
      // doc-keyed left joins.
      (s, dir) => {
        val d = docs(s, dir)
        val emb = t(s, dir, "embeddings")
        val holdVecs = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val planted = holdVecs.select(
          (col("vec_id") + 1000000L).as("doc_id"),
          concat(lit("planted paraphrase leak "), col("vec_id")).as("text"),
          concat(array(element_at(col("embedding"), 1) + lit(0.01)),
            slice(col("embedding"), 2, 63)).as("embedding"))
        val trainDocs = d.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), col("text"))
          .unionByName(planted.select(col("doc_id"), col("text")))
        val trainVecs = emb.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id").as("doc_id"),
            col("embedding").cast("array<double>").as("embedding"))
          .unionByName(planted.select(col("doc_id"), col("embedding")))
        val ngram = D.contaminationReport(trainDocs,
          d.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 3)
        val sem = S.semanticDecontaminate(trainVecs,
            holdVecs.select(col("embedding")), tau = 0.35)
          .select(col("doc_id"), col("max_holdout_cos"), col("contaminated"))
        trainDocs.select(col("doc_id"))
          .join(ngram, Seq("doc_id"), "left")
          .join(sem, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
            col("max_holdout_cos"),
            (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("ngram_flag"),
            coalesce(col("contaminated"), lit(false)).as("semantic_flag"))
          .filter(col("ngram_flag") || col("semantic_flag"))
          .withColumn("tier",
            when(col("ngram_flag") && col("semantic_flag"), "both")
              .when(col("ngram_flag"), "ngram").otherwise("semantic"))
          .orderBy("doc_id")
      },
      Some("""WITH hv AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings WHERE vec_id % 50 = 0),
             |planted AS MATERIALIZED (
             |  SELECT vec_id + 1000000 AS doc_id,
             |    'planted paraphrase leak ' || CAST(vec_id AS VARCHAR) AS text,
             |    [v[1] + 0.01] || v[2:] AS emb
             |  FROM hv),
             |train_docs AS MATERIALIZED (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
             |  UNION ALL SELECT doc_id, text FROM planted),
             |toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
             |         FROM train_docs),
             |grams AS (
             |  SELECT doc_id, unnest(
             |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
             |                i -> array_to_string(w[i:i+2], ' '))) END) AS g
             |  FROM toks),
             |htoks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
             |          FROM documents WHERE doc_id % 50 = 0),
             |hgrams AS (
             |  SELECT DISTINCT unnest(
             |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
             |                i -> array_to_string(w[i:i+2], ' '))) END) AS g
             |  FROM htoks),
             |ng AS (SELECT doc_id, count(*) AS n_shared_grams
             |       FROM grams JOIN hgrams USING (g) GROUP BY 1),
             |train_vecs AS (
             |  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings WHERE vec_id % 50 <> 0
             |  UNION ALL SELECT doc_id, emb AS v FROM planted),
             |sem AS (
             |  SELECT t.doc_id,
             |    max(round(list_cosine_similarity(t.v, h.v), 6)) AS max_holdout_cos
             |  FROM train_vecs t, hv h GROUP BY 1),
             |uni AS (
             |  SELECT td.doc_id,
             |    COALESCE(ng.n_shared_grams, 0) AS n_shared_grams,
             |    sem.max_holdout_cos,
             |    COALESCE(ng.n_shared_grams, 0) > 0 AS ngram_flag,
             |    COALESCE(sem.max_holdout_cos >= 0.35, FALSE) AS semantic_flag
             |  FROM train_docs td
             |  LEFT JOIN ng USING (doc_id)
             |  LEFT JOIN sem ON sem.doc_id = td.doc_id)
             |SELECT doc_id, n_shared_grams, max_holdout_cos, ngram_flag,
             |  semantic_flag,
             |  CASE WHEN ngram_flag AND semantic_flag THEN 'both'
             |       WHEN ngram_flag THEN 'ngram' ELSE 'semantic' END AS tier
             |FROM uni WHERE ngram_flag OR semantic_flag
             |ORDER BY doc_id""".stripMargin)),

QueryDef("mix3_source_dup_rates",
      // per-source duplication scorecard: exact-duplicate rate (md5 of
      // the raw text — the d1 key) and the WITHIN-source share of
      // cross-corpus duplicate groups, the "which feed is reposting"
      // attribution that decides d8-style source caps. All-integer
      // counts off two hash aggs; rates are single divisions.
      (s, dir) => {
        val d = docs(s, dir).filter(col("text").isNotNull)
          .select(col("source"), md5(col("text")).as("_h"))
        val g = d.groupBy("source", "_h").agg(count(lit(1)).as("_c"))
        g.groupBy("source").agg(
            sum(col("_c")).as("n_docs"),
            count(lit(1)).as("n_distinct"),
            sum(col("_c") - 1).as("n_dup_docs"))
          .select(col("source"), col("n_docs"), col("n_distinct"),
            col("n_dup_docs"),
            round(col("n_dup_docs").cast("double") /
              col("n_docs").cast("double"), 6).as("dup_rate"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT source, md5(text) AS h FROM documents
             |  WHERE text IS NOT NULL),
             |g AS (SELECT source, h, count(*) AS c FROM d GROUP BY 1, 2)
             |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
             |  count(*) AS n_distinct,
             |  CAST(sum(c - 1) AS BIGINT) AS n_dup_docs,
             |  round(CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
             |    AS dup_rate
             |FROM g GROUP BY 1 ORDER BY source""".stripMargin)),

QueryDef("priv4_dp_release",
      // differential-privacy-SHAPED count release with utility audit
      // ([[SamplingFunctions.hashLaplace]], Dwork & Roth 2014 §3.3):
      // per-language doc counts released with Laplace(1/ε) noise for
      // ε ∈ {0.5, 1, 2} — the ε-utility sweep a release pipeline runs
      // before picking a budget. Noise is the library's DETERMINISTIC
      // hash-derived stand-in (keyed per release cell, shared u across
      // the sweep so errors are paired; swap in a secure RNG at the
      // release boundary for a real mechanism — documented on the
      // primitive). One hash agg + a 3-row broadcast sweep; the oracle
      // replays the md5 noise, the inverse CDF, and both
      // post-processings exactly.
      (s, dir) => {
        val g = docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
        val eps = s.range(0, 3).select(
          element_at(array(lit(0.5), lit(1.0), lit(2.0)),
            (col("id") + 1).cast("int")).as("epsilon"))
        g.crossJoin(broadcast(eps))
          .withColumn("_noise", Sam.hashLaplace(
            concat(lit("dp#"), col("lang")), lit(1.0) / col("epsilon")))
          .withColumn("released", round(col("n_true") + col("_noise"), 6))
          .select(col("lang"), col("epsilon"), col("n_true"), col("released"),
            greatest(lit(0.0), col("released")).as("released_nonneg"),
            round(abs(col("released") - col("n_true")), 6).as("abs_err"))
          .orderBy("lang", "epsilon")
      },
      Some("""WITH g AS (SELECT lang, count(*) AS n_true FROM documents GROUP BY 1),
             |eps AS (SELECT CAST(unnest([0.5, 1.0, 2.0]) AS DOUBLE) AS epsilon),
             |u AS (SELECT lang, n_true,
             |  (CAST(('0x' || substring(md5('dp#' || lang), 1, 15)) AS BIGINT)
             |     % 1000000 + 0.5) / 1000000.0 AS uu
             |  FROM g),
             |n AS (SELECT lang, n_true, epsilon,
             |  -(1.0 / epsilon) * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)) AS noise
             |  FROM u CROSS JOIN eps),
             |r AS (SELECT lang, epsilon, n_true,
             |        round(n_true + noise, 6) AS released FROM n)
             |SELECT lang, epsilon, n_true, released,
             |  greatest(0.0, released) AS released_nonneg,
             |  round(abs(released - n_true), 6) AS abs_err
             |FROM r ORDER BY lang, epsilon""".stripMargin)),

QueryDef("priv1_k_anonymity",
      // k-anonymity audit over the customer quasi-identifiers
      // (mktsegment × nation): for k ∈ {2, 5, 10}, how many customers
      // sit in an equivalence class smaller than k — the re-
      // identification risk screen a dataset release runs before
      // publishing (Sweeney 2002). Class sizes are one hash agg; the
      // k-sweep reads the class-cardinality frame; all-integer counts,
      // one division per rate.
      (s, dir) => {
        val g = graft.Caches.trackedPersist(t(s, dir, "customer")
          .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
          .agg(count(lit(1)).as("_m")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ks = s.range(0, 3).select(
          element_at(array(lit(2), lit(5), lit(10)),
            (col("id") + 1).cast("int")).as("k"))
        g.crossJoin(broadcast(ks))
          .groupBy("k")
          .agg(sum(col("_m")).as("n_rows"),
            count(lit(1)).as("n_classes"),
            sum(when(col("_m") < col("k"), col("_m")).otherwise(0L))
              .as("rows_at_risk"),
            sum(when(col("_m") < col("k"), 1L).otherwise(0L))
              .as("classes_at_risk"),
            min(col("_m")).as("min_class"))
          .withColumn("risk_rate", round(col("rows_at_risk").cast("double") /
            col("n_rows").cast("double"), 6))
          .orderBy("k")
      },
      Some("""WITH g AS (
             |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
             |         count(*) AS m
             |  FROM customer GROUP BY 1, 2),
             |ks AS (SELECT unnest([2, 5, 10]) AS k)
             |SELECT k, CAST(sum(m) AS BIGINT) AS n_rows,
             |  count(*) AS n_classes,
             |  CAST(sum(CASE WHEN m < k THEN m ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk,
             |  CAST(sum(CASE WHEN m < k THEN 1 ELSE 0 END) AS BIGINT)
             |    AS classes_at_risk,
             |  CAST(min(m) AS BIGINT) AS min_class,
             |  round(CAST(sum(CASE WHEN m < k THEN m ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(m) AS DOUBLE), 6) AS risk_rate
             |FROM g CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin)),

QueryDef("priv2_l_diversity",
      // l-diversity audit (Machanavajjhala 2007): within each nation
      // (the quasi-identifier class), how many DISTINCT market
      // segments (the sensitive attribute) appear — a class where
      // everyone shares one segment leaks it even when k-anonymous.
      // Flags classes below l = 3. Two hash aggs, all-integer.
      (s, dir) => {
        t(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("_seg"))
          .agg(count(lit(1)).as("_m"))
          .groupBy("nation")
          .agg(sum(col("_m")).as("n_rows"),
            count(lit(1)).as("distinct_sensitive"),
            max(col("_m")).as("max_segment_rows"))
          .withColumn("below_l3", col("distinct_sensitive") < 3)
          .withColumn("dominance", round(col("max_segment_rows").cast("double") /
            col("n_rows").cast("double"), 6))
          .orderBy("nation")
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey AS nation, c_mktsegment AS seg,
             |         count(*) AS m
             |  FROM customer GROUP BY 1, 2)
             |SELECT nation, CAST(sum(m) AS BIGINT) AS n_rows,
             |  count(*) AS distinct_sensitive,
             |  CAST(max(m) AS BIGINT) AS max_segment_rows,
             |  (count(*) < 3) AS below_l3,
             |  round(CAST(max(m) AS DOUBLE) / CAST(sum(m) AS DOUBLE), 6)
             |    AS dominance
             |FROM g GROUP BY 1 ORDER BY nation""".stripMargin)),

QueryDef("pack3_bin_utilization",
      // packing-efficiency audit of pack1/pack2's greedy bins: per
      // shard, the pack count, mean fill ratio against the 512-token
      // budget, the under-80% bin count, and total padding waste — the
      // number that says whether the packer needs a smarter bin rule
      // before a training run burns the idle tokens. All-integer until
      // the two divisions (exact-decimal fill sums, the t20 pattern —
      // per-pack ratios round 6dp before summing). Over-budget packs
      // (a single doc longer than the budget) cap their fill at 1.
      (s, dir) => {
        val packs = Sam.materializePacks(
            docs(s, dir).select(col("doc_id"), col("text"),
              T.tokenCount(col("text")).as("n_tokens")),
            "doc_id", "text", "n_tokens", budgetTokens = 512L, shards = 8)
          .select(col("shard"), col("pack_id"), col("pack_tokens"))
          .withColumn("_fill", round(
            least(col("pack_tokens"), lit(512L)).cast("double") / 512.0, 6)
            .cast("decimal(10,6)"))
        packs.groupBy("shard").agg(
            count(lit(1)).as("n_packs"),
            sum(col("pack_tokens")).as("tokens"),
            (sum(col("_fill")).cast("double") /
              count(lit(1)).cast("double")).as("_mf"),
            sum(when(col("_fill") < 0.8, 1L).otherwise(0L)).as("underfilled"),
            sum(greatest(lit(512L) - col("pack_tokens"), lit(0L)))
              .as("padding_waste"))
          .select(col("shard"), col("n_packs"), col("tokens"),
            round(col("_mf"), 6).as("mean_fill"),
            col("underfilled"), col("padding_waste"))
          .orderBy("shard")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text, doc_id % 8 AS shard,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, shard, tok,
             |    CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - tok AS prefix
             |  FROM t),
             |pk AS (
             |  SELECT shard, prefix // 512 AS pack_id,
             |    CAST(sum(tok) AS BIGINT) AS pack_tokens
             |  FROM p GROUP BY 1, 2),
             |f AS (
             |  SELECT shard, pack_tokens,
             |    CAST(round(CAST(least(pack_tokens, 512) AS DOUBLE) / 512.0, 6)
             |      AS DECIMAL(10,6)) AS fill
             |  FROM pk)
             |SELECT shard, count(*) AS n_packs,
             |  CAST(sum(pack_tokens) AS BIGINT) AS tokens,
             |  round(CAST(sum(fill) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS mean_fill,
             |  CAST(sum(CASE WHEN fill < 0.8 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS underfilled,
             |  CAST(sum(greatest(512 - pack_tokens, 0)) AS BIGINT)
             |    AS padding_waste
             |FROM f GROUP BY 1 ORDER BY shard""".stripMargin)),

QueryDef("cls2_label_shift",
      // label-shift audit between the embedding train/valid splits
      // ([[graft.ops.ValidationOps.chiSquareIndependence]] on the
      // split × label grid): a significant chi-square means the valid
      // slice's class mix diverged — eval numbers would not transfer.
      // The a28 machinery pointed at the ML axis.
      (s, dir) => ValidationOps.chiSquareIndependence(
        t(s, dir, "embeddings")
          .select(when(col("vec_id") % 5 === 0, "valid").otherwise("train")
            .as("split"), col("label")),
        "split", "label"),
      Some("""WITH base AS (
             |  SELECT CASE WHEN vec_id % 5 = 0 THEN 'valid' ELSE 'train' END
             |           AS a,
             |         label AS b
             |  FROM embeddings
             |  WHERE label IS NOT NULL),
             |cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
             |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
             |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
             |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             |               CAST(count(DISTINCT a) AS BIGINT) AS r,
             |               CAST(count(DISTINCT c2.b) AS BIGINT) AS c
             |        FROM cells c2),
             |grid AS (
             |  SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(cells.o, 0) AS o
             |  FROM ra CROSS JOIN cb
             |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
             |term AS (
             |  SELECT n, r, c,
             |    round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e,
             |          6) AS term
             |  FROM (SELECT o, n, r, c,
             |          CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE) AS e
             |        FROM grid, tot))
             |SELECT n, (r - 1) * (c - 1) AS dof,
             |  CAST(SUM(CAST(term AS DECIMAL(24,6))) AS DOUBLE) AS chi2,
             |  round(sqrt(CAST(SUM(CAST(term AS DECIMAL(24,6))) AS DOUBLE)
             |             / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6)
             |    AS cramers_v
             |FROM term GROUP BY n, r, c""".stripMargin)),

QueryDef("cls3_gate_sweep",
      // classifier-gate calibration sweep: survivor counts if c12's
      // quality gate were set at the score's exact p25/p50/p75 ORDER
      // STATISTICS (rank ⌈q·n/100⌉ of the 6dp scores — no quantile
      // interpolation, so the cutoffs are exact decimals and the ≥
      // comparisons cannot ulp-flip). The tuning table read before
      // committing a gate threshold to a corpus build.
      (s, dir) => {
        val d = docs(s, dir)
        val labeled = d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), (col("lang") === "en").as("label"))
        val (w, bias) = Cls.naiveBayesWeights(labeled, "text", "label",
          buckets = 1 << 16, hash = D.md5Hash60)
        val scored = Cls.scoreLinear(d, "doc_id", "text", w, bias,
            buckets = 1 << 16, hash = D.md5Hash60)
          .select(col("doc_id"), col("score").cast("decimal(10,6)").as("sc"))
        // scale shape (the r11 verdict's cls3 scale-tier item): the
        // exact pXX order statistics AND the survivor counts both fall
        // out of the per-score-LEVEL histogram — rank r lands in the
        // level whose cumulative count first reaches r (doc_id
        // tie-breaks never change the VALUE at a rank), and
        // survivors(τ) = n − #(sc < τ) = n − cumBefore(τ's level). The
        // only window left is over distinct 6dp score levels (≤ 10⁶+1
        // regardless of corpus size); no second corpus pass. Pinned:
        // the total and the cumulative chain both read the histogram.
        val lv = graft.Caches.trackedPersist(
          scored.groupBy("sc").agg(count(lit(1)).as("_lm")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = lv.agg(sum(col("_lm")).as("_n"))
        val wL = Window.orderBy("sc")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = lv.withColumn("_cum", sum(col("_lm")).over(wL))
          .crossJoin(broadcast(n))
        val qs = s.range(1, 4).select((col("id") * 25).cast("int").as("q"))
        cum.join(broadcast(qs),
            col("_cum") - col("_lm") < expr("(q * _n + 99) div 100") &&
              col("_cum") >= expr("(q * _n + 99) div 100"))
          .select(col("q"), col("sc").cast("double").as("tau"),
            col("_n").as("n_docs"),
            (col("_n") - (col("_cum") - col("_lm"))).as("survivors"))
          .withColumn("survivor_share", round(col("survivors").cast("double") /
            col("n_docs").cast("double"), 6))
          .orderBy("q")
      },
      Some("WITH " + nbScoreCtes +
        """,
          |scored AS (
          |  SELECT d.doc_id,
          |    CAST(round(1.0 / (1.0 + exp(-(coalesce(sc.m, 0.0) + pr.bias))), 6)
          |      AS DECIMAL(10,6)) AS s
          |  FROM documents d CROSS JOIN pr LEFT JOIN sc USING (doc_id)),
          |rk AS (
          |  SELECT doc_id, s,
          |    row_number() OVER (ORDER BY s, doc_id) AS rn,
          |    count(*) OVER () AS n
          |  FROM scored),
          |qs AS (SELECT unnest([25, 50, 75]) AS q),
          |taus AS (
          |  SELECT qs.q, rk.s AS tau, rk.n
          |  FROM rk JOIN qs ON rk.rn = (qs.q * rk.n + 99) // 100)
          |SELECT t.q, CAST(t.tau AS DOUBLE) AS tau,
          |  CAST(t.n AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN scored.s >= t.tau THEN 1 ELSE 0 END) AS BIGINT)
          |    AS survivors,
          |  round(CAST(sum(CASE WHEN scored.s >= t.tau THEN 1 ELSE 0 END)
          |      AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS survivor_share
          |FROM scored CROSS JOIN taus t
          |GROUP BY t.q, t.tau, t.n ORDER BY q""".stripMargin)),

QueryDef("mix4_temperature_sweep",
      // mixture-planning table: the source shares a d9 temperature
      // draw CONVERGES to, at α ∈ {0.3, 0.5, 0.7} — share_α(s) =
      // n_s^α / Σ n^α — next to the raw share (α=1). The table a
      // mixture review reads before picking α. Counts exact; pow and
      // the normalizing division follow the d9 contract (6dp-rounded
      // rates — pow is the one non-correctly-rounded libm op, absorbed
      // by the rounding); the Σn^α normalizer sums 6dp decimals.
      (s, dir) => {
        val c = graft.Caches.trackedPersist(
          docs(s, dir).groupBy("source").agg(count(lit(1)).as("n")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val alphas = s.range(3, 8, 2)
          .select((col("id").cast("double") / 10.0).as("alpha"))
        val powed = c.crossJoin(broadcast(alphas))
          .withColumn("_p", round(pow(col("n").cast("double"), col("alpha")), 6)
            .cast("decimal(24,6)"))
        val tot = powed.groupBy("alpha").agg(sum(col("_p")).as("_z"),
          sum(col("n")).as("_nt"))
        powed.join(broadcast(tot), "alpha")
          .select(col("alpha"), col("source"), col("n"),
            round(col("n").cast("double") / col("_nt").cast("double"), 6)
              .as("raw_share"),
            round(col("_p").cast("double") / col("_z").cast("double"), 6)
              .as("temp_share"))
          .orderBy("alpha", "source")
      },
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
             |al AS (SELECT unnest([0.3, 0.5, 0.7]) AS alpha),
             |p AS (
             |  SELECT c.source, c.n, al.alpha,
             |    CAST(round(pow(CAST(c.n AS DOUBLE), al.alpha), 6)
             |      AS DECIMAL(24,6)) AS pw
             |  FROM c CROSS JOIN al),
             |t AS (SELECT alpha, SUM(pw) AS z, CAST(SUM(n) AS BIGINT) AS nt
             |      FROM p GROUP BY 1)
             |SELECT p.alpha, p.source, p.n,
             |  round(CAST(p.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS raw_share,
             |  round(CAST(p.pw AS DOUBLE) / CAST(t.z AS DOUBLE), 6) AS temp_share
             |FROM p JOIN t USING (alpha)
             |ORDER BY alpha, source""".stripMargin)),

QueryDef("url3_param_census",
      // query-parameter census over the url1 planted corpus: every
      // param key's frequency, share, and whether url1's normalization
      // would strip it (the [[graft.functions.UrlFunctions]] tracking
      // alternation, anchored) — the report that EXTENDS the strip
      // list when a new tracker shows up in crawl logs. Pure regex
      // projections (Java∩RE2 subset) + one hash agg; all-integer.
      (s, dir) => {
        val ks = plantedUrls(s, dir)
          .select(regexp_extract(col("url"), "\\?([^#]*)", 1).as("_q"))
          .filter(length(col("_q")) > 0)
          .select(explode(split(col("_q"), "&")).as("_kv"))
          .filter(length(col("_kv")) > 0)
          .select(regexp_extract(col("_kv"), "^([^=]*)", 1).as("key"))
        val h = ks.groupBy("key").agg(count(lit(1)).as("n"))
        h.withColumn("_t", sum(col("n")).over(Window.partitionBy(lit(1))))
          .select(col("key"), col("n"),
            round(col("n").cast("double") / col("_t").cast("double"), 6)
              .as("share"),
            col("key").rlike(
              "^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|igshid|ref|ref_src|mc_cid|mc_eid)$")
              .as("stripped_by_normalize"))
          .orderBy("key")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    CASE
             |      WHEN doc_id % 4 = 0 THEN
             |        'HTTPS://WWW.' || source || '.Example.CO.UK:443/Docs/'
             |          || doc_id || '/?utm_source=feed&page=' || doc_id % 7
             |          || '#top'
             |      WHEN doc_id % 4 = 1 THEN
             |        'http://' || source || '.example.com:80/A/' || doc_id
             |      WHEN doc_id % 4 = 2 THEN
             |        'https://cdn.' || source || '.org?gclid=x&id=' || doc_id
             |      ELSE source || '.com/bare/' || doc_id
             |    END AS url
             |  FROM documents),
             |q AS (
             |  SELECT regexp_extract(url, '\?([^#]*)', 1) AS qs FROM u),
             |kv AS (
             |  SELECT unnest(string_split(qs, '&')) AS kv
             |  FROM q WHERE length(qs) > 0),
             |k AS (
             |  SELECT regexp_extract(kv, '^([^=]*)', 1) AS key
             |  FROM kv WHERE length(kv) > 0),
             |h AS (SELECT key, count(*) AS n FROM k GROUP BY 1)
             |SELECT key, n,
             |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6)
             |    AS share,
             |  regexp_matches(key,
             |    '^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|igshid|ref|ref_src|mc_cid|mc_eid)$')
             |    AS stripped_by_normalize
             |FROM h ORDER BY key""".stripMargin)),

QueryDef("mm4_media_profile",
      // per-modality payload profile over the mm1 synthetic binaries
      // (doc_id % 3 → image/audio/video, the deterministic stand-in):
      // asset counts, byte totals, min/max/mean sizes — the storage-
      // planning table a multimodal lake reads before sharding. Byte
      // lengths are exact longs; one division.
      (s, dir) => {
        val a = docs(s, dir).select(col("doc_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("modality"),
          length(concat(col("text"), lit("#"), col("lang")).cast("binary"))
            .cast("long").as("n_bytes"))
        a.groupBy("modality").agg(
            count(lit(1)).as("n_assets"),
            sum(col("n_bytes")).as("total_bytes"),
            min(col("n_bytes")).as("min_bytes"),
            max(col("n_bytes")).as("max_bytes"),
            round(sum(col("n_bytes")).cast("double") /
              count(lit(1)).cast("double"), 6).as("mean_bytes"))
          .orderBy("modality")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
             |      AS modality,
             |    CAST(octet_length(encode(text || '#' || lang)) AS BIGINT)
             |      AS n_bytes
             |  FROM documents)
             |SELECT modality, count(*) AS n_assets,
             |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             |  CAST(min(n_bytes) AS BIGINT) AS min_bytes,
             |  CAST(max(n_bytes) AS BIGINT) AS max_bytes,
             |  round(CAST(sum(n_bytes) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS mean_bytes
             |FROM a GROUP BY 1 ORDER BY modality""".stripMargin)),

    QueryDef("priv3_t_closeness",
      // t-closeness audit (Li et al. ICDE 2007) completing the priv1/
      // priv2 release-risk family: per quasi-identifier class (nation),
      // the variational distance ½·Σ|p_s − q_s| between the class's
      // sensitive-attribute distribution (market segment) and the
      // global one — a class can be k-anonymous AND l-diverse yet still
      // leak when its segment mix is far from the population's. The
      // distance is decided in EXACT INTEGERS (|m_cs·N − M_s·n_c| cross
      // products — no per-class float probabilities) with ONE double
      // division at the end; absent segments enter as zero counts via
      // the class × segment grid (bounded: nations × segments).
      // Flags t > 0.2 (the paper's running example threshold).
      (s, dir) => {
        // pinned: the per-class grid, the class totals, and the global
        // segment totals all derive from the (nation, segment) counts
        val g = graft.Caches.trackedPersist(t(s, dir, "customer")
            .groupBy(col("c_nationkey").as("nation"),
              col("c_mktsegment").as("seg"))
            .agg(count(lit(1)).as("_m")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val segTot = g.groupBy("seg").agg(sum(col("_m")).as("_ms"))
        val clsTot = g.groupBy("nation").agg(sum(col("_m")).as("_nc"))
        val nTot = g.agg(sum(col("_m")).as("_nn"))
        clsTot.crossJoin(broadcast(segTot))
          .join(g, Seq("nation", "seg"), "left")
          .withColumn("_mcs", coalesce(col("_m"), lit(0L)))
          .crossJoin(broadcast(nTot))
          .groupBy("nation")
          .agg(max(col("_nc")).as("n_rows"),
            sum(abs(col("_mcs") * col("_nn") - col("_ms") * col("_nc")))
              .as("_num"),
            max(col("_nc") * col("_nn")).as("_den"))
          .select(col("nation"), col("n_rows"),
            round(col("_num").cast("double") /
              (col("_den") * 2).cast("double"), 6).as("t_distance"))
          .withColumn("above_t", col("t_distance") > 0.2)
          .orderBy("nation")
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey AS nation, c_mktsegment AS seg,
             |         count(*) AS m
             |  FROM customer GROUP BY 1, 2),
             |st AS (SELECT seg, sum(m) AS ms FROM g GROUP BY 1),
             |ct AS (SELECT nation, sum(m) AS nc FROM g GROUP BY 1),
             |nt AS (SELECT sum(m) AS nn FROM g),
             |grid AS (
             |  SELECT ct.nation, ct.nc, st.seg, st.ms, nt.nn,
             |         COALESCE(g.m, 0) AS mcs
             |  FROM ct CROSS JOIN st CROSS JOIN nt
             |  LEFT JOIN g ON g.nation = ct.nation AND g.seg = st.seg)
             |SELECT nation, CAST(max(nc) AS BIGINT) AS n_rows,
             |  round(CAST(sum(abs(mcs * nn - ms * nc)) AS DOUBLE)
             |    / CAST(max(nc * nn) * 2 AS DOUBLE), 6) AS t_distance,
             |  round(CAST(sum(abs(mcs * nn - ms * nc)) AS DOUBLE)
             |    / CAST(max(nc * nn) * 2 AS DOUBLE), 6) > 0.2 AS above_t
             |FROM grid GROUP BY 1 ORDER BY nation""".stripMargin))
  )
}
