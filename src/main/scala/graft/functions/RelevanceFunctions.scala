package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-statistics relevance scoring (BM25) for keyword retrieval over
  * a document table — the classic quality-retrieval shape a training-data
  * pipeline uses to pull topic-matched subsets out of a crawl.
  *
  * Scale shape: corpus statistics (N, Σdl, per-term document frequency)
  * are ONE aggregate over the token projection — a single reduce to one
  * row — broadcast back with a scalar cross join, so scoring is a pure
  * per-row projection with NO shuffle of documents. The per-term tf/df
  * computation is fused into the same pass (no per-term scans).
  */
object RelevanceFunctions {

  /** BM25 score per document for a fixed bag of query terms.
    * Tokenization: lowercase whitespace split (the corpus-wide standard
    * used by [[TextFunctions]]/[[DedupFunctions]]).
    *
    * Determinism contract: N, Σdl and df are exact longs; the per-row
    * score is a FIXED-ORDER (left-associated, query-term order) sum of
    * per-term IEEE chains, and the result is rounded to 6 decimals — so
    * an external engine replaying the same formula hash-matches.
    *
    * Returns (idCol, bm25).
    *
    * The token projection feeds BOTH the stats aggregate and the scoring
    * projection, so it is persisted at `storage` (pass
    * `StorageLevel.NONE` to disable) — without it the corpus tokenization
    * runs twice, once per DAG branch. Cached rows are (id, tokens, 1
    * long)/row ≈ the corpus size; at 100 TB the caller picks the level
    * (e.g. DISK_ONLY) or pre-tokenizes to a table. Released when the
    * caller's [[graft.Caches.scoped]] block closes.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val base0 = df.select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long"))
    val base = graft.Caches.trackedPersist(base0, storage)
    // one fused aggregate: corpus size, total length, and every term's
    // document frequency in a single reduce-to-one-row pass
    val statCols =
      count(lit(1)).as("_n") +: sum(col("_dl")).as("_sumdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("_toks"), t), 1L).otherwise(0L)).as(s"_df_$i")
        }
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val n = col("_n").cast("double")
    val avgdl = col("_sumdl").cast("double") / n
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("_toks"), x => x === lit(t))).cast("double")
      val dfT = col(s"_df_$i").cast("double")
      val idf = log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl").cast("double") / avgdl))
    }.reduce(_ + _) // left fold: summation order is part of the contract
    scored.select(col(idCol), round(score, 6).as("bm25"))
  }

  /** Join-form BM25 for a DYNAMIC term set: `terms` is a one-column
    * ("term") frame — typically produced by another query stage (query
    * expansion, feedback terms, a learned vocabulary slice) — rather
    * than a compile-time literal list like [[bm25]]'s. The scoring
    * algebra is identical; the DETERMINISM contract differs by
    * necessity: with a data-dependent term set there is no fixed-order
    * column fold, so each (doc, term) contribution rounds to 6dp and
    * the per-doc sum accumulates in EXACT DECIMAL (partitioning cannot
    * reorder it). Documents matching no term score 0.0.
    *
    * Scale shape: term stats come from tf⋈terms (terms BROADCAST —
    * query-sized by construction) aggregated per term (tiny) and
    * broadcast back; doc length and corpus stats ride the same fused
    * passes as [[bm25]]. Nothing corpus-sized shuffles: the contribution
    * frame is |matching (doc, term)| rows, bounded by the term set.
    */
  def bm25Join(df: DataFrame, idCol: String, textCol: String,
      terms: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = graft.Caches.trackedPersist(df.select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long")),
      StorageLevel.MEMORY_AND_DISK)
    val stats = base.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sumdl"))
    val tf = base.select(col(idCol), col("_dl"),
        explode(col("_toks")).as("term"))
      .join(broadcast(terms.select(col("term"))), Seq("term"))
      .groupBy(col(idCol), col("term"), col("_dl"))
      .agg(count(lit(1)).as("_tf"))
    val dfc = tf.groupBy("term")
      .agg(count(lit(1)).as("_df")) // docs containing the term
    val n = col("_n").cast("double")
    val avgdl = col("_sumdl").cast("double") / n
    val tfD = col("_tf").cast("double")
    val dfD = col("_df").cast("double")
    val contrib = round(
      log((n - dfD + 0.5) / (dfD + 0.5) + 1.0) * (tfD * lit(k1 + 1.0)) /
        (tfD + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("_dl").cast("double") / avgdl)), 6)
      .cast("decimal(16,6)")
    val perDoc = tf.join(broadcast(dfc), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol)).agg(sum(contrib).as("_s"))
    base.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_s").cast("double"), lit(0.0)).as("bm25j"))
  }

  /** Unigram language-model quality score (the honest in-sandbox stand-in
    * for the CCNet/C4 KenLM perplexity filter): score(doc) = mean over
    * its token OCCURRENCES of ln P(token), with P from the corpus's own
    * unigram frequencies. Low scores flag gibberish / vocabulary-outlier
    * documents; high scores flag natural (or boilerplate — pair with the
    * repetition filter) text.
    *
    * Scale shape: vocabulary = one explode + hash-agg (map-side
    * partials); total count rides along as a window-free scalar via
    * broadcast; scoring joins token occurrences to the vocab; the only
    * big shuffle is the per-doc mean over occurrences (one row per token
    * occurrence, linear). "Zipf-small" vocab holds for clean text, but a
    * raw crawl's unigram table (typos, numbers, URLs) runs to billions of
    * keys — two independent dials keep the vocab join viable there:
    * `broadcastVocab = false` routes it through a plain shuffled equi-join
    * (both sides hashed on the token — no driver-side materialization at
    * all), and `minCount > 1` drops the long tail from the vocab BEFORE
    * the join, with dropped-token occurrences scoring `logProbFloor`
    * (they are rarer than anything kept, so flooring preserves the
    * ordering the filter exists to produce). Defaults preserve the exact
    * self-trained semantics: every token in-vocab, no smoothing needed;
    * `logProbFloor` also guards the empty-doc mean (ln of nothing → null
    * → floored). P(token) stays n/total over the UNfiltered corpus total,
    * so minCount changes only which tokens hit the floor, not the
    * probabilities of kept tokens.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
      logProbFloor: Double = -20.0, broadcastVocab: Boolean = true,
      minCount: Long = 1L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1 (got $minCount)")
    // `toks` (the per-occurrence explode over the corpus) feeds the vocab
    // aggregate AND is the scoring join's left side; `fullVocab` feeds
    // the totals scalar AND the (possibly filtered) vocab join side. Both
    // are pinned at `storage` (NONE disables) so the corpus explodes once
    // and the vocab aggregates once — unpinned, the explode evaluates up
    // to three times. toks caches one (id, token) row per OCCURRENCE ≈
    // corpus token count; vocab is Zipf-small. Released when the
    // caller's [[graft.Caches.scoped]] block closes.
    def pinned(d: DataFrame): DataFrame = graft.Caches.trackedPersist(d, storage)
    val toks = pinned(df.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .filter(length(col("_tok")) > 0))
    val fullVocab = pinned(toks.groupBy(col("_tok")).agg(count(lit(1)).as("_n")))
    val totals = fullVocab.agg(sum(col("_n")).as("_total"))
    val vocab = if (minCount > 1L) fullVocab.filter(col("_n") >= minCount)
      else fullVocab
    val scored = toks
      .join(if (broadcastVocab) broadcast(vocab) else vocab, Seq("_tok"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      // per-OCCURRENCE floor: a token dropped by minCount scores the
      // floor (null _n from the left join), it is not skipped by avg
      .agg(avg(coalesce(
          log(col("_n").cast("double") / col("_total").cast("double")),
          lit(logProbFloor)))
        .as("_lp"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_lp"), lit(logProbFloor)).as("log_prob"))
  }

  /** Bigram language-model quality score — one order up from
    * [[unigramLogProb]], and a materially better gibberish detector:
    * a doc of real words in scrambled ORDER scores high under a unigram
    * model but low here, because P(w₂|w₁) = c(w₁w₂)/c(w₁·) collapses
    * for never-adjacent pairs. score(doc) = mean over its bigram
    * OCCURRENCES of ln P(w₂|w₁), with counts self-trained on the corpus
    * (c(w₁·) is the bigram-PREFIX count, so probabilities per prefix sum
    * to exactly 1). Docs with < 2 tokens score `logProbFloor`; with
    * `minCount > 1` rare bigrams leave the table and their occurrences
    * floor, exactly [[unigramLogProb]]'s tail semantics.
    *
    * Scale shape mirrors the unigram op: ONE explode over adjacent
    * token pairs (pinned — it feeds both count tables and the scoring
    * join), two hash-aggs with map-side partials, then a join per count
    * table (broadcast by default, `broadcastVocab = false` for the
    * crawl-scale shuffled equi-join) and a per-doc mean.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      logProbFloor: Double = -20.0, broadcastVocab: Boolean = true,
      minCount: Long = 1L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1 (got $minCount)")
    def pinned(d: DataFrame): DataFrame = graft.Caches.trackedPersist(d, storage)
    val bigrams = pinned(df.select(col(idCol),
        explode(TextFunctions.bound(split(lower(trim(col(textCol))), "\\s+")) { toks =>
          TextFunctions.bound(size(toks)) { n =>
            when(n < 2, array().cast("array<struct<_w1:string,_w2:string>>"))
              .otherwise(transform(sequence(lit(1), n - 1), i =>
                struct(element_at(toks, i).as("_w1"),
                  element_at(toks, i + 1).as("_w2"))))
          }
        }).as("_bg"))
      .select(col(idCol), col("_bg._w1").as("_w1"), col("_bg._w2").as("_w2")))
    val pairCounts0 = bigrams.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_n2"))
    val pairCounts = if (minCount > 1L) pairCounts0.filter(col("_n2") >= minCount)
      else pairCounts0
    val prefixCounts = bigrams.groupBy(col("_w1")).agg(count(lit(1)).as("_n1"))
    def maybeBroadcast(d: DataFrame) = if (broadcastVocab) broadcast(d) else d
    val scored = bigrams
      .join(maybeBroadcast(pairCounts), Seq("_w1", "_w2"), "left")
      .join(maybeBroadcast(prefixCounts), Seq("_w1"), "left")
      .groupBy(col(idCol))
      // per-OCCURRENCE floor: a bigram dropped by minCount has null _n2
      .agg(avg(coalesce(
          log(col("_n2").cast("double") / col("_n1").cast("double")),
          lit(logProbFloor)))
        .as("_lp"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_lp"), lit(logProbFloor)).as("log_prob"))
  }

  /** Interpolated Kneser–Ney bigram score (Kneser & Ney, ICASSP 1995;
    * Chen & Goodman, Harvard TR-10-98 eq. 4.26) — the smoothing family
    * KenLM implements, i.e. the actual CCNet filter model, one rung up
    * from [[bigramLogProb]]'s raw MLE. Per bigram occurrence:
    *
    *   P_KN(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *               + (D · N₁₊(w₁·)/c(w₁·)) · N₁₊(·w₂)/N₁₊(··)
    *
    * with fixed discount `D` (0.75, the Chen–Goodman default), where
    * N₁₊(w₁·) = distinct continuations of w₁, N₁₊(·w₂) = distinct
    * prefixes of w₂ (the "how many contexts has this word followed"
    * novelty count — KN's insight), N₁₊(··) = distinct bigram types.
    * Unlike MLE, rare-but-valid continuations keep mass, and
    * high-frequency-but-context-locked words ("Francisco") stop
    * looking probable everywhere. score(doc) = mean ln P_KN over its
    * bigram occurrences; < 2 tokens → `logProbFloor`. With
    * `minCount > 1` a pruned bigram backs off to the continuation
    * term alone (the natural KN unseen-pair path; the type counts
    * are then over SURVIVING pairs), and a w₂ seen only in pruned
    * pairs floors the occurrence.
    *
    * Scale shape: ONE pinned bigram explode; pair counts aggregate
    * once (pinned — they feed the prefix, continuation, and
    * type-total aggs). The PAIR table joins back as a shuffled
    * equi-join unconditionally: distinct bigram types are
    * Zipf-UNBOUNDED (they grow with the corpus, unlike the
    * vocab-bounded unigram tables), so it is exactly the table that
    * can exceed broadcast limits at crawl scale. `broadcastVocab`
    * governs only the vocab-sized prefix/continuation tables
    * (`false` → shuffled equi-joins for those too, for vocabularies
    * past broadcast size). The per-occurrence P_KN is a fixed-order
    * IEEE chain an external engine replays literally.
    */
  def kneserNeyLogProb(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, logProbFloor: Double = -20.0,
      broadcastVocab: Boolean = true, minCount: Long = 1L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1 (got $minCount)")
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1) (got $discount)")
    def pinned(d: DataFrame): DataFrame = graft.Caches.trackedPersist(d, storage)
    val bigrams = pinned(df.select(col(idCol),
        explode(TextFunctions.bound(split(lower(trim(col(textCol))), "\\s+")) { toks =>
          TextFunctions.bound(size(toks)) { n =>
            when(n < 2, array().cast("array<struct<_w1:string,_w2:string>>"))
              .otherwise(transform(sequence(lit(1), n - 1), i =>
                struct(element_at(toks, i).as("_w1"),
                  element_at(toks, i + 1).as("_w2"))))
          }
        }).as("_bg"))
      .select(col(idCol), col("_bg._w1").as("_w1"), col("_bg._w2").as("_w2")))
    val pairCounts0 = bigrams.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_n2"))
    val pairCounts = pinned(
      if (minCount > 1L) pairCounts0.filter(col("_n2") >= minCount)
      else pairCounts0)
    // c(w1·) and N1+(w1·): both from the (small) pair-count table, so
    // with pruning the discount mass matches the surviving types.
    val prefixStats = pairCounts.groupBy(col("_w1"))
      .agg(sum(col("_n2")).as("_n1"), count(lit(1)).as("_t1"))
    val contCounts = pairCounts.groupBy(col("_w2"))
      .agg(count(lit(1)).as("_cc"))
    val typeTotal = pairCounts.agg(count(lit(1)).cast("double").as("_tot"))
    def maybeBroadcast(d: DataFrame) = if (broadcastVocab) broadcast(d) else d
    val d = lit(discount)
    // literal evaluation order matches the oracle SQL term for term
    val pkn =
      greatest(col("_n2").cast("double") - d, lit(0.0)) / col("_n1").cast("double") +
        (d * col("_t1").cast("double") / col("_n1").cast("double")) *
          (col("_cc").cast("double") / col("_tot"))
    val scored = bigrams
      .join(pairCounts, Seq("_w1", "_w2"), "left")
      .join(maybeBroadcast(prefixStats), Seq("_w1"), "left")
      .join(maybeBroadcast(contCounts), Seq("_w2"), "left")
      .crossJoin(broadcast(typeTotal))
      .groupBy(col(idCol))
      // pruned pair: null _n2 → discounted term nulls → back off to the
      // continuation term alone; w2 with no surviving pair: null _cc →
      // whole chain nulls → per-occurrence floor
      .agg(avg(coalesce(
          log(coalesce(
            pkn,
            (d * col("_t1").cast("double") / col("_n1").cast("double")) *
              (col("_cc").cast("double") / col("_tot")))),
          lit(logProbFloor)))
        .as("_lp"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_lp"), lit(logProbFloor)).as("log_prob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §3.3):
    * score every document under the corpus LM, then split the corpus
    * into `head` / `middle` / `tail` at the score tertiles — the
    * published recipe keeps head+middle and drops (or down-weights)
    * tail. CCNet scores with a Wikipedia-trained KenLM; the in-sandbox
    * stand-in is the self-trained [[bigramLogProb]] (`order = 2`,
    * default — scrambled-order gibberish collapses) or
    * [[unigramLogProb]] (`order = 1`).
    *
    * Returns (id, log_ppl, ppl_bucket): `log_ppl` = −(mean token ln P)
    * = ln(perplexity), 6dp-rounded — the monotone ln of CCNet's
    * perplexity, bucketed identically (tertiles are order statistics)
    * while staying engine-replayable: exp would stretch ulp noise past
    * the 6dp guard at perplexity scale (e²⁰'s ulp ≈ 30), ln-space
    * keeps it well inside. Lower = more natural text; `head` is the
    * best third. Empty/sub-order docs take `logProbFloor` (→ highest
    * log_ppl → tail, where a filter wants them).
    *
    * Scale shape: the LM pass is [[bigramLogProb]]'s (one pinned
    * explode, two map-side-partial count aggs, broadcast-or-shuffled
    * vocab joins); the two tertile cuts reduce to ONE broadcast row
    * ([[SamplingFunctions.quantileBucket]] — never a global sort) and
    * bucket assignment is a row-local comparison count against
    * 6dp-rounded cuts (both sides rounded, so cross-engine percentile
    * interpolation ulps cannot flip an assignment).
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      order: Int = 2, logProbFloor: Double = -20.0,
      broadcastVocab: Boolean = true, minCount: Long = 1L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(order == 1 || order == 2, s"order must be 1 or 2 (got $order)")
    val lp =
      if (order == 2) bigramLogProb(df, idCol, textCol, logProbFloor,
        broadcastVocab, minCount, storage)
      else unigramLogProb(df, idCol, textCol, logProbFloor,
        broadcastVocab, minCount, storage)
    val scored = lp.select(col(idCol), round(-col("log_prob"), 6).as("log_ppl"))
    SamplingFunctions.quantileBucket(scored, idCol, "log_ppl", nBuckets = 3)
      .select(col(idCol), col("log_ppl"),
        when(col("bucket") === 0, "head")
          .when(col("bucket") === 1, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Per-document keyword extraction: the top `k` terms of each
    * document by TF-IDF (tf · ln(N/df), the plain variant — df ≥ 1 by
    * construction, corpus-universal terms score 0). The standard
    * corpus-exploration / topic-tagging pass a curation pipeline runs
    * to summarize what each document is about.
    *
    * Scale shape: tokenize-and-count is explode + hash aggregation
    * (map-side partials); document frequency is a second hash agg over
    * the (doc, term) pairs; N broadcasts as a one-row frame (the bm25
    * stats pattern); the vocab join is a plain shuffled equi-join on
    * the term (both sides data-sized — broadcast would materialize a
    * crawl-scale vocabulary on the driver); and the per-doc top-k is
    * [[graft.functions.SamplingFunctions.capPerGroup]]'s bounded
    * KthSmallest heap on struct(-tfidf, term) — map-side partial cuts,
    * NO per-document sort, no data-controlled window. Ties cannot
    * straddle the cut (the term makes the struct unique per doc).
    *
    * Returns (idCol, term, tfidf) — tfidf 6dp-rounded.
    */
  def topTfIdfTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val toks = df.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("_term"))
    val tf = toks.groupBy(col(idCol), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val dfc = tf.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val n = df.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfc, Seq("_term"))
      .crossJoin(broadcast(n))
      .withColumn("_tfidf", col("_tf").cast("double") *
        log(col("_n").cast("double") / col("_df").cast("double")))
      .withColumn("_ord", struct(negate(col("_tfidf")), col("_term")))
    SamplingFunctions.capPerGroup(scored, idCol, "_ord", k)
      .select(col(idCol), col("_term").as("term"),
        round(col("_tfidf"), 6).as("tfidf"))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR 2009) of ranked
    * retrieval lists — the standard way to combine a keyword ranking
    * (BM25) with a vector ranking (cosine top-k) without score
    * calibration: fused(d) = Σ over lists of 1 / (k0 + rank_d), items
    * absent from a list contribute nothing. Returns the top `topK` by
    * fused score as (idCol, rrf, rank); ties break by lower id.
    *
    * Determinism contract: each list's contribution lands in its OWN
    * pivot column (lists are positional), and the fused score is a
    * FIXED-ORDER left fold over those columns — IEEE addition is not
    * associative, so a groupBy-sum whose merge order depends on
    * partitioning could flip a 6dp boundary; the fold can't. Rounded to
    * 6dp like every float the library emits.
    *
    * Scale shape: inputs are top-R lists (each ≤ R·|queries| rows —
    * bounded by construction from [[SimilarityFunctions.topKPerQuery]]
    * /TakeOrdered producers, NOT corpus-sized), so the union + pivot
    * hash-aggregation moves only list rows; the final top-K is
    * `orderBy(...).limit(topK)` — Spark's TakeOrdered, a per-partition
    * heap + driver merge of topK rows, never a single-partition global
    * sort — and the rank window runs on ≤ topK surviving rows.
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      topK: Int, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(topK > 0, s"topK must be > 0 (got $topK)")
    require(k0 >= 0, s"k0 must be >= 0 (got $k0)")
    val tagged = lists.zipWithIndex.map { case (d, i) =>
      d.select(col(idCol), lit(i).as("_list"),
        (lit(1.0) / (lit(k0.toDouble) + col(rankCol).cast("double"))).as("_contrib"))
    }.reduce(_ unionByName _)
    // max, not first: if an id appears more than once within one
    // ranked list (a producer-contract breach, but a silent one), the
    // BEST rank's contribution wins deterministically — first() would
    // pick whichever row the scan happened to visit.
    val wide = tagged.groupBy(col(idCol))
      .pivot("_list", lists.indices.map(Integer.valueOf))
      .agg(max(col("_contrib")))
    val fused = lists.indices.map(i => coalesce(col(s"`$i`"), lit(0.0)))
      .reduce(_ + _) // left fold: summation order is part of the contract
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col(idCol)) // ≤ topK rows: bounded window
    wide.select(col(idCol), round(fused, 6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol)).limit(topK)
      .withColumn("rank", row_number().over(w))
  }

  /** Pointwise mutual information of token pairs co-occurring within a
    * document (Church & Hanks 1990): PMI(a,b) = ln(N·n_ab / (n_a·n_b))
    * over DOCUMENT frequencies — the standard collocation / taxonomy
    * signal for corpus exploration and phrase mining. Tokenization is
    * the corpus-wide lowercase-whitespace standard.
    *
    * Determinism contract: every frequency is an exact long; the one
    * float is `ln` of their exact-double ratio (inputs ≪ 2^53), rounded
    * to 6 dp — the a14-PSI contract.
    *
    * Scale shape: the (doc, token) projection collapses through one
    * distinct; document frequencies are one hash agg, and the df GATE
    * (`minDf ≤ df ≤ maxDf`) cuts both the hub tokens (stopwords — every
    * pair with "the" co-occurs, Σ df² explodes exactly like d22's
    * winnow hubs) and the hapax tail BEFORE the per-doc pair self-join,
    * so pair work is bounded by maxDf²·vocab, not doc-length². The df
    * frame is key-sized and broadcasts; `minPairs` prunes the output.
    */
  /** Sparse TF-IDF cosine similarity pairs — the classic IR document
    * similarity (Salton's vector space model): weight w = tf·ln(N/df)
    * per (doc, token), cosine = Σ w_a·w_b / (‖a‖·‖b‖) summed over
    * SHARED tokens only, pairs kept past `minSim`. The weighted
    * companion to the set-based [[graft.functions.DedupFunctions]]
    * Jaccard: near-identical wording ranks above mere vocabulary
    * overlap.
    *
    * Scale shape: the token equi-join IS the blocking — the pair-stage
    * row count is Σ_token df², so the `maxDf` cap (drop tokens above
    * it from weights AND norms, both sides consistently) is the d22
    * hub defense; sized right it bounds pair work at maxDf·Σ df. The
    * df/idf frame is vocabulary-sized. Determinism: engine ulps (libm
    * ln, float-sum order in dot/norm) sit ~1e-14 relative, absorbed by
    * the 6 dp output round; the `minSim` filter runs on the unrounded
    * value (the a12 co-moment convention).
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
      minSim: Double = 0.3, maxDf: Long = 1000L): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0,
      s"minSim must be in [0, 1] (got $minSim)")
    val toks = graft.Caches.trackedPersist(
      df.select(col(idCol).as("_id"),
          explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
        .filter(col("_tok") =!= ""),
      StorageLevel.MEMORY_AND_DISK)
    val tf = toks.groupBy("_id", "_tok").agg(count(lit(1)).as("_tf"))
    val n = toks.select("_id").distinct().count()
    val dfreq = tf.groupBy("_tok").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
    val w = graft.Caches.trackedPersist(
      tf.join(broadcast(dfreq), "_tok")
        .select(col("_id"), col("_tok"),
          (col("_tf") * log(lit(n.toDouble) / col("_df"))).as("_w")),
      StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy("_id").agg(sqrt(sum(col("_w") * col("_w"))).as("_nrm"))
    val a = w.select(col("_id").as("id_a"), col("_tok"), col("_w").as("_wa"))
    val b = w.select(col("_id").as("id_b"), col("_tok"), col("_w").as("_wb"))
    a.join(b, Seq("_tok")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("_wa") * col("_wb")).as("_dot"))
      .join(norms.select(col("_id").as("id_a"), col("_nrm").as("_na")), Seq("id_a"))
      .join(norms.select(col("_id").as("id_b"), col("_nrm").as("_nb")), Seq("id_b"))
      .withColumn("_sim", col("_dot") / (col("_na") * col("_nb")))
      .filter(col("_sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("_sim"), 6).as("sim"))
  }

  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 5L, maxDf: Long = 1000000L,
      minPairs: Long = 5L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1 (got $minDf)")
    require(maxDf >= minDf, s"maxDf must be >= minDf (got $maxDf)")
    val docTok = graft.Caches.trackedPersist(
      df.select(col(idCol).as("_doc"),
          explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
        .filter(col("_tok") =!= "")
        .distinct(),
      StorageLevel.MEMORY_AND_DISK)
    val n = df.select(col(idCol)).distinct().count()
    val dfreq = docTok.groupBy("_tok").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf && col("_df") <= maxDf)
    val kept = docTok.join(broadcast(dfreq), "_tok")
    val a = kept.select(col("_doc"), col("_tok").as("tok_a"), col("_df").as("n_a"))
    val b = kept.select(col("_doc"), col("_tok").as("tok_b"), col("_df").as("n_b"))
    a.join(b, Seq("_doc")).filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"),
        count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairs)
      .select(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"), col("n_ab"),
        round(log((lit(n.toDouble) * col("n_ab")) /
          (col("n_a") * col("n_b"))), 6).as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  /** Retrieval-quality metrics per query term — NDCG@k, MRR, recall@k
    * (Järvelin & Kekäläinen TOIS 2002 for the graded-gain DCG) — the
    * eval harness for the [[bm25]]/[[rrfFuse]] stack, with graded
    * relevance = per-document term occurrences capped at `relCap`
    * (a self-labeling convention that makes the metric fully
    * deterministic and engine-replayable; swap in human labels by
    * joining a judgment table upstream).
    *
    *   DCG@k  = Σ_{pos ≤ k} (2^rel − 1)/log₂(pos + 1)   (retrieved order)
    *   NDCG@k = DCG@k / IDCG@k  (ideal order; 0 when nothing relevant)
    *   MRR    = 1/first-relevant-pos (0 when no relevant doc in top-k)
    *   recall = relevant-retrieved / relevant-total
    *
    * Determinism contract: per-term BM25 scores round to 6 dp before
    * ranking (ties broken by doc id); each DCG term rounds to 6 dp
    * (log₂ is libm — the cls1/a14 rule) and accumulates in EXACT
    * decimal; every closing ratio rounds to 6 dp.
    *
    * Scale shape: ONE pinned corpus scan serves every term (per-term
    * tf/score computed in a single projection and exploded); top-k and
    * ideal-k ride [[SamplingFunctions.capPerGroup]]'s bounded heap, the
    * position windows run over ≤ k rows per term AFTER the cap (the
    * rrfFuse exemption), and all metric frames are terms-sized.
    */
  def rankingMetrics(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 10, relCap: Int = 4,
      k1: Double = 1.2, b: Double = 0.75,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(terms.nonEmpty, "rankingMetrics needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(relCap >= 1, s"relCap must be >= 1 (got $relCap)")
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val base0 = df.select(col(idCol).as("_id"),
        split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long"))
    val base = graft.Caches.trackedPersist(base0, storage)
    val statCols =
      count(lit(1)).as("_n") +: sum(col("_dl")).as("_sumdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("_toks"), t), 1L).otherwise(0L)).as(s"_df_$i")
        }
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val n = col("_n").cast("double")
    val avgdl = col("_sumdl").cast("double") / n
    val entries = array(terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("_toks"), x => x === lit(t))).cast("long")
      val tfD = tf.cast("double")
      val dfT = col(s"_df_$i").cast("double")
      val idf = log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      val score = idf * (tfD * lit(k1 + 1.0)) /
        (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl").cast("double") / avgdl))
      struct(lit(t).as("term"), tf.as("tf"), round(score, 6).as("score"))
    }: _*)
    val long0 = base.crossJoin(broadcast(stats))
      .select(col("_id"), explode(entries).as("_e"))
      .select(col("_id"), col("_e.term").as("term"),
        col("_e.tf").as("tf"), col("_e.score").as("score"))
      .withColumn("rel", least(col("tf"), lit(relCap.toLong)))
    val long = graft.Caches.trackedPersist(long0, storage)
    def dcgTerm: Column = round(
      (pow(lit(2.0), col("rel")) - 1) / log2(col("pos") + 1), 6)
      .cast("decimal(18,6)")
    val topk = SamplingFunctions.capPerGroup(
        long.withColumn("_ord", struct((-col("score")).as("s"), col("_id").as("i"))),
        "term", "_ord", k)
      .withColumn("pos",
        row_number().over(wTerm.orderBy(col("score").desc, col("_id"))))
    val ret = topk.groupBy("term").agg(
      sum(dcgTerm).as("_dcg"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("_retr"),
      min(when(col("rel") > 0, col("pos"))).as("_minpos"))
    val ideal = SamplingFunctions.capPerGroup(
        long.filter(col("rel") > 0)
          .withColumn("_ord", struct((-col("rel")).as("r"), col("_id").as("i"))),
        "term", "_ord", k)
      .withColumn("pos",
        row_number().over(wTerm.orderBy(col("rel").desc, col("_id"))))
      .groupBy("term").agg(sum(dcgTerm).as("_idcg"))
    val totals = long.groupBy("term")
      .agg(sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel"))
    totals.join(ret, Seq("term"), "left").join(ideal, Seq("term"), "left")
      .select(col("term"), col("n_rel"),
        when(col("_idcg").isNull || col("_idcg") === 0, lit(0.0))
          .otherwise(round(col("_dcg").cast("double") /
            col("_idcg").cast("double"), 6)).as("ndcg"),
        coalesce(round(lit(1.0) / col("_minpos"), 6), lit(0.0)).as("mrr"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(round(col("_retr").cast("double") /
            col("n_rel").cast("double"), 6)).as("recall"))
      .orderBy("term")
  }

  /** Zipf rank-frequency fit over the corpus vocabulary: the top-`topK`
    * tokens with their ranks, plus the OLS line through
    * (ln rank, ln freq) — slope ≈ −1 is the Zipf signature of natural
    * text; a corpus whose slope drifts toward 0 (flat head) or −∞
    * (boilerplate-dominated head) fails the smell test. The standard
    * one-glance corpus health statistic next to [[unigramLm]].
    *
    * Determinism contract: per-point lns round to 6 dp (ln is the one
    * libm call engines may disagree on by an ulp — the cls1/a14
    * convention), the OLS sums then accumulate in EXACT decimal
    * (order-free), and the closed-form slope/intercept is one IEEE
    * chain on those exact sums → 6 dp round.
    *
    * Scale shape: one token count with map-side partials; top-K is
    * TakeOrdered (never a global sort); the rank window runs over K
    * rows AFTER the limit (the rrfFuse bounded-window exemption); the
    * fit sums reduce K rows to one broadcast row.
    */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    require(topK >= 2, s"topK must be >= 2 (got $topK)")
    val counts = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(topK)
    val pts = top
      .withColumn("rank",
        // unpartitioned but ≤ topK rows by the limit above — bounded
        // window, WindowExec warning benign (r16 audit)
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))))
      .withColumn("ln_rank", round(log(col("rank").cast("double")), 6))
      .withColumn("ln_freq", round(log(col("n").cast("double")), 6))
    val sums = pts.agg(
      count(lit(1)).cast("double").as("_k"),
      sum(col("ln_rank").cast("decimal(20,6)")).cast("double").as("_sx"),
      sum(col("ln_freq").cast("decimal(20,6)")).cast("double").as("_sy"),
      sum((col("ln_rank") * col("ln_freq")).cast("decimal(24,12)"))
        .cast("double").as("_sxy"),
      sum((col("ln_rank") * col("ln_rank")).cast("decimal(24,12)"))
        .cast("double").as("_sxx"))
      .withColumn("_slope",
        (col("_k") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_k") * col("_sxx") - col("_sx") * col("_sx")))
      .withColumn("_icept", (col("_sy") - col("_slope") * col("_sx")) / col("_k"))
    pts.crossJoin(broadcast(sums))
      .select(col("rank"), col("token"), col("n"), col("ln_rank"), col("ln_freq"),
        round(col("_slope"), 6).as("slope"),
        round(col("_icept"), 6).as("intercept"))
      .orderBy("rank")
  }

  /** Heaps'-law vocabulary-growth fit (V ≈ K·Nᵝ): cumulative distinct
    * vocabulary V against cumulative token count N in `idCol` order,
    * one point per document, with the OLS line through (ln N, ln V) —
    * β (the growth exponent, ~0.4–0.6 for natural text) and ln K. The
    * corpus-health companion to [[zipfFit]]: synthetic/templated text
    * shows β collapsing toward 0 (vocabulary saturates), OCR noise
    * pushes it toward 1 (every page mints new "words").
    *
    * Token first-sightings are ONE hash aggregation (min doc per
    * token — never a running distinct over the raw stream); both
    * cumulative series are a window over DOCUMENT-cardinality rows
    * ordered by id — like [[zipfFit]]'s global rank this is the one
    * non-parallel step, acceptable for the diagnostic's intended
    * corpus-sample scale and bounded by docs, never by tokens.
    * Per-point lns round 6dp (the a14 libm convention), fit sums
    * accumulate in exact decimal, β / ln K round 6dp.
    */
  def heapsFit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // pinned: both the per-doc totals and the first-sighting agg read
    // this explode — unpinned, the corpus tokenizes twice
    val toks = graft.Caches.trackedPersist(docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = toks.groupBy("_id").agg(count(lit(1)).as("n_tok"))
    val firstOcc = toks.groupBy("token").agg(min(col("_id")).as("_fd"))
      .groupBy(col("_fd").as("_id")).agg(count(lit(1)).as("_new"))
    // doc-cardinality cumulative sums go through the distributed exact
    // prefix sum (RankOps) — a Window.orderBy here would single-task
    // the whole corpus' per-doc points. Pinned: the prefix sum
    // evaluates its input three times (boundary sampling + totals +
    // data pass), and the OLS sums re-read the points.
    val base = graft.Caches.trackedPersist(
      perDoc.join(firstOcc, Seq("_id"), "left")
        .withColumn("_newnn", coalesce(col("_new"), lit(0L)))
        .select(col("_id"), col("n_tok"), col("_newnn")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pts = graft.ops.RankOps.withGlobalPrefixSums(base,
        Seq(col("_id")), Seq("n_tok", "_newnn"),
        Seq("cum_tokens", "cum_vocab"))
      .withColumn("ln_n", round(log(col("cum_tokens").cast("double")), 6))
      .withColumn("ln_v", round(log(col("cum_vocab").cast("double")), 6))
    val sums = pts.agg(
      count(lit(1)).cast("double").as("_k"),
      sum(col("ln_n").cast("decimal(20,6)")).cast("double").as("_sx"),
      sum(col("ln_v").cast("decimal(20,6)")).cast("double").as("_sy"),
      sum((col("ln_n") * col("ln_v")).cast("decimal(24,12)"))
        .cast("double").as("_sxy"),
      sum((col("ln_n") * col("ln_n")).cast("decimal(24,12)"))
        .cast("double").as("_sxx"))
      .withColumn("_slope",
        (col("_k") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_k") * col("_sxx") - col("_sx") * col("_sx")))
      .withColumn("_icept", (col("_sy") - col("_slope") * col("_sx")) / col("_k"))
    pts.crossJoin(broadcast(sums))
      .select(col("_id").as(idCol), col("cum_tokens"), col("cum_vocab"),
        col("ln_n"), col("ln_v"),
        round(col("_slope"), 6).as("beta"),
        round(col("_icept"), 6).as("ln_k"))
      .orderBy(idCol)
  }

  /** Maximal Marginal Relevance reranking (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick k of the top-R retrieval candidates so each
    * next pick maximizes λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the
    * standard diversification pass between "retrieve" and "serve"
    * (dedups near-identical hits; for training-data curation, keeps a
    * topic slice from collapsing onto one boilerplate cluster).
    *
    * The greedy loop is a bounded EXPRESSION-TREE fold, not a UDF and
    * not a driver loop: candidates collapse to one ≤R-element array
    * per query (the rrf bounded convention), and `aggregate` over
    * `sequence(1, k)` replays the selection row-locally — each step
    * filters the already-picked ids, scores the remainder against the
    * selected set's vectors ([[SimilarityFunctions.cosine]], the
    * codegen'd VecCosine, 6dp per pair), and `array_min` over
    * (negscore, vec_id) structs picks the winner with the
    * deterministic lower-id tiebreak. An empty selected set scores
    * pure λ·rel (coalesce 0), which is the canonical first pick.
    *
    * Determinism contract: rel is the 6dp cosine from
    * [[SimilarityFunctions.bruteForceTopK]]; the MMR score is EXACT
    * DECIMAL — λ and its complement at scale 3, rel and the pair sims
    * at scale 6, so λ·rel − (1−λ)·maxsim is a scale-9 decimal with NO
    * rounding step at all (a float score rounded 6dp straddled a
    * boundary at sf0.01: two engines' ulp-different products flipped
    * the 6th decimal). Every argmax therefore compares identical
    * values in every engine; λ must be representable at 3 decimals.
    *
    * Scale shape: one corpus-scan top-R (bounded-heap), one join to
    * re-attach candidate vectors (candidate-sized), one hash agg to
    * |queries| arrays, then a row-local fold — nothing after the
    * retrieval shuffles more than queries × R rows.
    *
    * Returns (query_id, rank, vec_id, rel, mmr) — rank 1..k in pick
    * order.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, topR: Int, k: Int,
      lambda: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", qIdCol: String = "query_id",
      qVecCol: String = "query_vec"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(topR >= k, s"topR must be >= k (got topR=$topR, k=$k)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1] (got $lambda)")
    val lamBd = java.math.BigDecimal.valueOf(lambda).setScale(3)
    val lamRel = lit(lamBd).cast("decimal(4,3)")
    val lamDiv = lit(java.math.BigDecimal.ONE.subtract(lamBd)).cast("decimal(4,3)")
    val dec6 = "decimal(10,6)"
    // column names plumb through to the retrieval stage and normalize
    // to the documented canonical output names immediately after —
    // a non-default idCol/vecCol previously threw (or silently ranked
    // default-named columns) because bruteForceTopK got the defaults
    val cands = SimilarityFunctions.bruteForceTopK(corpus, queries, topR,
        idCol, vecCol, qIdCol, qVecCol)
      .select(col(qIdCol).as("query_id"), col(idCol).as("vec_id"),
        col("cosine"), col("rank"))
      .join(corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("_v")), Seq("vec_id"))
    val asState = (vecId: Column, rel: Column, v: Column, mmr: Column) =>
      struct(vecId.as("vec_id"), rel.as("rel"), v.as("v"), mmr.as("mmr"))
    val arr = cands.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("rank"), col("vec_id"),
        col("cosine").as("rel"), col("_v").as("v")))).as("_arr"))
    // empty array OF THE STATE TYPE, derived from the data (no
    // hardcoded id type): transform then slice to length 0
    val init = slice(transform(col("_arr"),
      a => asState(a.getField("vec_id"), a.getField("rel"),
        a.getField("v"), lit(0.0))), 1, 0)
    val sel = aggregate(sequence(lit(1), lit(k)), init, (selAcc, _) => {
      val remaining = filter(col("_arr"), a =>
        !exists(selAcc, s => s.getField("vec_id") === a.getField("vec_id")))
      val scored = transform(remaining, a => struct(
        negate(lamRel * a.getField("rel").cast(dec6) - lamDiv * coalesce(
          array_max(transform(selAcc, s =>
            round(SimilarityFunctions.cosine(a.getField("v"),
              s.getField("v")), 6).cast(dec6))),
          lit(java.math.BigDecimal.ZERO).cast(dec6))).as("negscore"),
        a.getField("vec_id").as("vec_id"),
        a.getField("rel").as("rel"),
        a.getField("v").as("v")))
      val best = array_min(scored)
      when(size(scored) > 0,
        concat(selAcc, array(asState(best.getField("vec_id"),
          best.getField("rel"), best.getField("v"),
          negate(best.getField("negscore")).cast("double")))))
        .otherwise(selAcc)
    })
    arr.select(col("query_id"), posexplode(sel))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("vec_id"), col("col.rel").as("rel"),
        col("col.mmr").as("mmr"))
      .orderBy("query_id", "rank")
  }

  /** Late-interaction MaxSim retrieval (Khattab & Zaharia, SIGIR 2020 —
    * the ColBERT scoring rule) over CHUNK-level embeddings:
    *
    *   score(q, d) = Σ_{i ∈ chunks(q)} max_{j ∈ chunks(d)} cos(q_i, d_j)
    *
    * — each query chunk finds its best-matching passage chunk
    * independently, so a doc that answers every aspect of a multi-part
    * query outranks one that nails a single aspect, the precision step
    * single-vector pooling (s5 mean-pooling → s1 KNN) flattens away.
    *
    * Determinism contract: per-pair cosines round to 6 dp before the
    * max (exact — max of identical sets), the per-doc sum of ≤
    * |query chunks| maxes rounds to 6 dp (absorbing addition order),
    * ties rank by lower doc id. Self-pairs (query doc retrieved for its
    * own query) are excluded, the s1 convention.
    *
    * Scale shape: the query side is a serving batch — its chunks
    * BROADCAST; the corpus chunk table pays ONE scan through the
    * codegen'd [[SimilarityFunctions.cosine]] kernel into a
    * (doc, query, query_chunk) max aggregate with map-side partials,
    * then a (doc, query) sum — both hash aggs, no window over data, no
    * all-pairs chunk materialization beyond the scan-local broadcast
    * probe. Top-k per query rides the bounded-heap
    * [[SimilarityFunctions.topKPerQuery]] kernel. At 100 TB the corpus
    * side composes with the ANN tiers: shortlist docs by pooled-vector
    * IVF first, then MaxSim only the shortlist (this operator is the
    * exact re-rank stage).
    *
    * Returns (query_doc, doc, maxsim, rank), rank ≤ k per query doc.
    */
  def maxSimTopK(corpusChunks: DataFrame, queryChunks: DataFrame, k: Int,
      docCol: String = "doc_id", vecCol: String = "embedding",
      qDocCol: String = "query_doc", qChunkCol: String = "chunk_id",
      qVecCol: String = "query_vec"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val spark = corpusChunks.sparkSession
    import spark.implicits._
    val perChunk = corpusChunks
      .select(col(docCol).cast("long").as("_d"),
        col(vecCol).cast("array<double>").as("_v"))
      .crossJoin(broadcast(queryChunks.select(
        col(qDocCol).cast("long").as("_qd"),
        col(qChunkCol).cast("long").as("_qc"),
        col(qVecCol).cast("array<double>").as("_qv"))))
      .filter(col("_d") =!= col("_qd")) // the s1 self-exclusion
      .select(col("_d"), col("_qd"), col("_qc"),
        round(SimilarityFunctions.cosine(col("_v"), col("_qv")), 6).as("_cos"))
      .filter(col("_cos").isNotNull)
      .groupBy(col("_d"), col("_qd"), col("_qc"))
      .agg(max(col("_cos")).as("_m"))
    val scored = perChunk
      .groupBy(col("_d"), col("_qd"))
      .agg(round(sum(col("_m")), 6).as("_s"))
      .select(col("_qd"), col("_d"), col("_s"))
      .as[(Long, Long, Double)]
    SimilarityFunctions.topKPerQuery(scored, k)
      .select(col("_q").as(qDocCol), col("_id").as(docCol),
        col("_c").as("maxsim"), col("rank"))
  }
}
