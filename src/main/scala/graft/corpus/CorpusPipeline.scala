package graft.corpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType,
  StructField, StructType}

import graft.functions.{DedupFunctions, SamplingFunctions, SimilarityFunctions, TextFunctions}
import graft.warehouse.ShardWriter

/** Gate thresholds and output shape for [[CorpusPipeline]]. `keepLangs`
  * empty keeps every language; percentages follow
  * [[graft.functions.SamplingFunctions.splitColumn]]. `minhashHash` /
  * `minhashBucketHash` expose the near-dup tier's hash functions —
  * production keeps the xxhash64 defaults; the registry's oracle twin
  * swaps in the engine-shared md5 hash so the WHOLE composed pipeline
  * can be replayed externally (the m1b pattern).
  */
final case class CorpusConfig(
    minTokens: Long = 20,
    minQuality: Double = 50.0,
    maxDupBigramFrac: Double = 0.3,
    keepLangs: Set[String] = Set.empty,
    redactPii: Boolean = true,
    shingleN: Int = 3,
    numHashes: Int = 32,
    bands: Int = 8,
    nearDupThreshold: Double = 0.7,
    hotBucketThreshold: Long = 4096L,
    salts: Int = 16,
    pctTrain: Int = 90,
    pctValid: Int = 5,
    shards: Int = 8,
    minhashHash: (Column, Int) => Column =
      (c, i) => xxhash64(c, lit(i)),
    minhashBucketHash: (Column, Int) => Column =
      (c, b) => xxhash64(c, lit(b)),
    // `fpBloomItems` arms the Bloom gate on the exact-vs-corpus tier of
    // the stateful ingest: per-batch fingerprint Bloom filters persist
    // alongside the TextIndex and merge into one corpus-wide sketch the
    // nightly append probes BEFORE the fingerprint anti-join — a bloom
    // miss is proof of absence, so the mostly-fresh crawl skips the
    // index join for almost every row. Size it for the TARGET corpus
    // (it fixes the filter geometry all batches must share; ~7.3
    // bits/item at the default 3% fpp). None = gate off.
    fpBloomItems: Option[Long] = None,
    fpBloomFpp: Double = 0.03,
    // PROBE auto-arm thresholds for the Bloom gate. The gate replaces
    // the exact tier's batch-anti-join-index with a sketch probe + two
    // broadcast joins; that trade only wins when the plain anti-join
    // would actually SHUFFLE the corpus fingerprint table — i.e. when
    // the fp table is too big to broadcast AND the batch is small
    // against the corpus (few hits → tiny broadcast sets). Measured at
    // sf0.1 (PLANS.md r11 crossover note): with any locally-testable
    // corpus the fp table broadcasts and the gate LOSES at every ratio
    // (+10% at 0.05:1, +42% at 17:1) — so the probe arms only past
    // BOTH floors below. corpus_total is a marker sum (no scan); the
    // batch row count is one count of the incoming frame. Armed
    // batches ALWAYS write their per-batch filters (cheap, and the
    // merged sketch's no-false-negative rule needs every batch
    // covered) — these thresholds gate only the probe. Ratio 0.0 =
    // probe whenever `fpBloomItems` is set (the pre-r11 behavior).
    fpBloomMinRatio: Double = 4.0,
    // ~2M 16-byte fingerprints ≈ 32 MB of keys — decisively past the
    // 10 MB autoBroadcastJoinThreshold where the plain anti-join stops
    // being a broadcast join and starts shuffling the corpus
    fpBloomMinCorpusRows: Long = 2000000L,
    // decontamination knobs (active when a `holdout` frame is passed to
    // [[CorpusPipeline.clean]]/append/ingest): a survivor sharing more
    // than `maxSharedGrams` distinct word `decontamNgram`-grams with
    // ANY holdout document is dropped. 13 is the published LLM-dedup
    // setting for natural text; the registry's synthetic-vocab oracle
    // uses 3 (the c1 convention).
    decontamNgram: Int = 13,
    maxSharedGrams: Long = 0L,
    // C4/CCNet-style cross-document duplicate-LINE removal as stage 0
    // of [[CorpusPipeline.clean]] (before the gates, so quality is
    // judged on the de-boilerplated text, and before fingerprinting,
    // so two crawls of one page differing only in nav/banner placement
    // collapse into exact duplicates). The value is
    // [[graft.functions.DedupFunctions.removeDuplicateLines]]'s
    // `minChars` exemption threshold. None = stage off. In the
    // incremental flows (appendBatch/ingest) the stage sees one BATCH
    // at a time: within-batch boilerplate dies, but a banner line the
    // corpus already holds keeps its per-batch first occurrence — the
    // same per-shipment scope every batch-level text stage has here.
    lineDedupMinChars: Option[Int] = None,
    // arms the COMPLETE Gopher filter ([[graft.functions.TextFunctions
    // .gopherFilter]]: quality rules ∧ repetition rules) as an extra
    // stage after the base gates — the rule families the base
    // token/quality/bigram gates don't cover (word-count band, mean
    // word length, symbol/bullet/ellipsis line shapes, stopword
    // presence, duplicate-line and n-gram char coverage). None = off;
    // the c3..c8 oracles keep their pinned shapes.
    gopherFilter: Option[GopherConfig] = None,
    // arms a trained quality-classifier gate ([[graft.functions
    // .ClassifierFunctions.scoreLinear]]) after the rule gates — the
    // fastText-shaped "looks like reference text" screen. Weights come
    // from [[graft.functions.ClassifierFunctions.naiveBayesWeights]]
    // or [[graft.functions.ClassifierFunctions.trainLogisticHashed]].
    // None = off.
    classifierGate: Option[ClassifierGateConfig] = None,
    // arms the CONTAINMENT tier of the incremental appends: batch docs
    // whose winnow-fingerprint containment against the corpus's STORED
    // winnow rows reaches the threshold drop — the excerpt/quote class
    // symmetric MinHash structurally misses. Armed batches store their
    // own winnow rows at accept time (history is never re-winnowed).
    // Winnow geometry is the t4 convention (k=8, window=4). None = off;
    // existing index layouts and oracles keep their pinned shapes.
    containmentThreshold: Option[Double] = None,
    // the [[graft.functions.DedupFunctions.containmentPairsAgainst]]
    // df-cap — CALIBRATE to ~1% of corpus docs (Σ df² is the pair-join
    // row count; see the d22 sizing note)
    containmentMaxDocFreq: Int = 1000,
    // winnow hash: production xxhash64; the engine-shared md5 form
    // swaps in for external replay (the minhashHash pattern)
    winnowHash: Column => Column = xxhash64(_))

/** Corpus-calibration knobs for the Gopher stage of
  * [[CorpusPipeline.clean]] — the two rules whose paper defaults
  * assume web English (see the c10 registry query for the calibration
  * story); everything else runs at the published thresholds.
  */
final case class GopherConfig(
    minWords: Long = 50L,
    minStopwordHits: Int = 2)

/** Classifier-gate knobs for [[CorpusPipeline.clean]]: docs scoring
  * under `minScore` (sigmoid posterior, [0,1]) drop. `weights`/`bias`
  * are the artifact either trainer produces; `buckets`/`hash` must
  * match the ones the weights were trained with — a mismatched hash
  * silently scores garbage, which is why they ride together here.
  */
final case class ClassifierGateConfig(
    weights: DataFrame,
    bias: Double,
    minScore: Double,
    buckets: Int = 1 << 16,
    hash: Column => Column = xxhash64(_))

/** Embedding-tier (semantic) dedup knobs for [[CorpusPipeline.clean]].
  * `dim` is the embedding dimensionality (needed to generate the LSH
  * hyperplanes); `quantize` routes pooled vectors through int8
  * quantization before the LSH pass — cosine is invariant to the
  * per-vector scale, so candidate quality is unchanged while the
  * shuffled/cached vectors shrink 8x vs double arrays (the knob that
  * decides whether a 100 TB corpus's vectors fit executor storage);
  * `minCosine` is the verified-cosine near-dup threshold; `maxIter`
  * bounds the connected-components star rounds. `chunksPerDoc` is how
  * [[CorpusPipeline.run]] keys the flat embeddings table back to its
  * documents (`doc_id = vec_id div chunksPerDoc` — the testdata emits a
  * fixed 10-chunk fanout); a corpus whose embeddings table carries an
  * explicit doc-id column should pass chunk frames to
  * [[CorpusPipeline.clean]] directly instead.
  */
final case class SemanticConfig(
    dim: Int,
    nBits: Int = 16,
    bands: Int = 4,
    minCosine: Double = 0.9,
    quantize: Boolean = true,
    seed: Long = 42L,
    maxIter: Int = 25,
    hotBucketThreshold: Long = 4096L,
    salts: Int = 16,
    chunksPerDoc: Int = 10,
    // semantic-decontamination threshold (the `holdoutChunks` tier):
    // max pooled-cosine against any holdout doc at/above this drops the
    // row. Deliberately separate from `minCosine` — paraphrased eval
    // leakage sits below verbatim-dup similarity.
    deconMinCosine: Double = 0.85)

/** The end-to-end training-corpus pipeline, composed entirely from the
  * oracle-verified operators: quality/repetition/language gates → PII
  * scrub → exact dedup → MinHash-LSH near-dup drop → deterministic
  * split → reproducible shard export. One call takes a raw document
  * table to trainer-ready shards; every stage is the 100 TB shape its
  * operator documents (gates and scrub are scan-speed projections,
  * dedup shuffles fingerprints/signatures rather than text, split is a
  * row-local predicate, export is one hash shuffle).
  */
object CorpusPipeline {

  /** Semantic (embedding-tier) near-dup dedup over the TEXT-stage
    * survivors: mean-pool each document's chunk vectors to one doc
    * vector, optionally int8-quantize, generate banded hyperplane-LSH
    * candidate pairs with exact-cosine verification, then drop all but
    * the minimum-id member of every TRANSITIVE near-dup cluster
    * (connected components — A~B, B~C collapses to one survivor even
    * when (A,C) was never a candidate).
    *
    * `chunks` carries one row per (document, chunk) with the chunk's
    * embedding vector in `vecCol`, keyed by `chunkIdCol` (the document
    * id — same id space as `survivors(idCol)`). Chunks of documents
    * already dropped by the text stages are filtered out BEFORE pooling
    * (left-semi against the survivor ids), so the embedding tier only
    * pays for rows that can still matter.
    *
    * Scale shape, stage by stage: pooling is one explode + hash-agg
    * (map-side partials, no vector buffered per group); quantization is
    * a scan-local projection; candidate generation is a bucketed
    * equi-join on (band, key) — never all-pairs; clustering is
    * diameter-independent star rounds (or one bounded driver union-find
    * for small pair sets). Nothing re-executes upstream lineage:
    * each stage consumes the previous stage's frame exactly once (the
    * LSH signature frame is pinned internally by [[SimilarityFunctions
    * .lshNeighborPairs]]).
    */
  def semanticDedup(survivors: DataFrame, idCol: String,
      chunks: DataFrame, chunkIdCol: String, vecCol: String,
      cfg: SemanticConfig): DataFrame =
    semanticDedupPooled(survivors, idCol,
      pooledVectors(survivors.select(col(idCol).as(chunkIdCol)), chunks,
        chunkIdCol, vecCol, cfg), cfg)

  /** [[semanticDedup]] over ALREADY-POOLED doc vectors (`(id, vec)`,
    * the [[pooledVectors]] shape) — the entry [[appendBatchIndexed]]
    * uses so one pinned pooled frame can serve both the batch-internal
    * pass and the vs-corpus arm.
    */
  private def semanticDedupPooled(survivors: DataFrame, idCol: String,
      pooled: DataFrame, cfg: SemanticConfig): DataFrame = {
    val pairs = SimilarityFunctions.lshNeighborPairs(pooled, dim = cfg.dim,
      nBits = cfg.nBits, bands = cfg.bands, minCosine = cfg.minCosine,
      idCol = "id", vecCol = "vec", seed = cfg.seed,
      hotBucketThreshold = cfg.hotBucketThreshold, salts = cfg.salts)
    DedupFunctions.dropNearDuplicateClusters(survivors, pairs, idCol,
      maxIter = cfg.maxIter)
  }

  /** Filter + scrub + dedup; returns the surviving rows of `docs`
    * (id, text — text PII-redacted when configured).
    *
    * When `chunkEmbeddings` and `semantic` are BOTH given, the embedding
    * tier ([[semanticDedup]]) runs after the text near-dup drop —
    * text-LSH catches verbatim-ish copies; the embedding pass catches
    * paraphrases and re-renderings that share meaning but few shingles.
    *
    * When `holdout` is given (a benchmark/eval suite carrying
    * `textCol`), survivors sharing more than `cfg.maxSharedGrams`
    * distinct `cfg.decontamNgram`-grams with ANY holdout document are
    * dropped ([[graft.functions.DedupFunctions.contaminationReport]]
    * as a drop gate) — eval contamination is a data defect exactly
    * like duplication, and the nightly clean is where both belong.
    * It runs AFTER the text dedup tiers: the gram explode is the
    * widest projection in the pipeline, so it should see the fewest
    * rows, and the holdout gram set broadcasts, so the placement costs
    * nothing corpus-shaped either way.
    *
    * When `holdoutChunks` is ALSO given (chunk embeddings of the
    * holdout suite, same `(chunkIdCol, vecCol)` shape), the semantic
    * tier additionally drops every survivor whose POOLED vector
    * reaches `semantic.deconMinCosine` cosine against any pooled
    * holdout document ([[graft.functions.SimilarityFunctions
    * .semanticDecontaminate]]) — the embedding complement of the
    * n-gram gate, catching paraphrased eval leakage that shares no
    * exact grams. Both sides pool through the same 6dp/quantize path,
    * and one pooled frame serves the dedup tier AND this gate.
    */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      cfg: CorpusConfig = CorpusConfig(),
      chunkEmbeddings: Option[DataFrame] = None,
      chunkIdCol: String = "doc_id", vecCol: String = "embedding",
      semantic: Option[SemanticConfig] = None,
      holdout: Option[DataFrame] = None,
      holdoutChunks: Option[DataFrame] = None): DataFrame = {
    require(chunkEmbeddings.isEmpty == semantic.isEmpty,
      "semantic dedup needs BOTH the chunk-embedding frame and a SemanticConfig")
    require(holdoutChunks.isEmpty || semantic.nonEmpty,
      "semantic decontamination (holdoutChunks) needs the semantic tier armed")
    // stage 0 (optional): cross-document duplicate-line removal —
    // boilerplate dies line-by-line BEFORE quality is judged or
    // fingerprints are taken (cfg.lineDedupMinChars)
    val preDeduped = cfg.lineDedupMinChars match {
      case Some(mc) =>
        DedupFunctions.removeDuplicateLines(docs, idCol, textCol, mc)
      case None => docs
    }
    val t = col(textCol)
    val langOk =
      if (cfg.keepLangs.isEmpty) lit(true)
      else TextFunctions.languageId(t).isin(cfg.keepLangs.toSeq: _*)
    val gated = preDeduped.filter(
      TextFunctions.tokenCount(t) >= cfg.minTokens &&
        TextFunctions.qualityScore(t) >= cfg.minQuality &&
        TextFunctions.duplicateNgramFraction(t, 2) <= cfg.maxDupBigramFrac &&
        langOk)
    // optional rule tiers between the base gates and the scrub: the
    // full Gopher filter, then the trained classifier screen — both
    // BEFORE PII redaction (judged on original text) and before any
    // fingerprint is taken
    val gophered = cfg.gopherFilter match {
      case Some(g) => TextFunctions.gopherFilter(gated, idCol, textCol,
        minWords = g.minWords, minStopwordHits = g.minStopwordHits)
      case None => gated
    }
    val screened = cfg.classifierGate match {
      case Some(cg) =>
        val keep = graft.functions.ClassifierFunctions.scoreLinear(
            gophered, idCol, textCol, cg.weights, cg.bias, cg.buckets, cg.hash)
          .filter(col("score") >= cg.minScore).select(col(idCol))
        gophered.join(keep, Seq(idCol), "left_semi")
      case None => gophered
    }
    val scrubbed =
      if (cfg.redactPii)
        screened.withColumn(textCol, TextFunctions.redactPii(t))
      else screened
    // exact dedup BEFORE near-dup: it is cheaper (16-byte fingerprints)
    // and shrinks the LSH candidate space.
    //
    // PINNED (r15, the library-wide multi-consumer rule): `exact` feeds
    // BOTH the LSH shingle branch and the final drop anti-join's left
    // side — unpinned, the whole gate → scrub → fingerprint → dedup
    // chain (the pipeline's regex-heaviest projections) executed TWICE
    // per clean() call. Kept a PIN, not an r16 checkpoint: clean()'s
    // own plan depth is shallow (c3's driver gaps measured 1.5 s), an
    // eager checkpoint here serializes the text tier for no planning
    // win (A/B: c3 0.89×, c7 0.75× with the checkpoint), and the
    // append pipelines truncate everything below textClean anyway.
    val exact = graft.Caches.trackedPersist(
      DedupFunctions.dedupExact(
        scrubbed.withColumn("_fp", TextFunctions.fingerprint(col(textCol))),
        idCol, "_fp").drop("_fp"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the text-LSH candidate join arms the skew defense: a crawl's
    // boilerplate buckets are exactly the pathological same-key groups
    // selfPairJoin splits (the registry's oracle queries keep the
    // plain-join default so their benched plans are unchanged)
    val pairs = DedupFunctions.minhashLshPairs(
      exact.select(col(idCol), col(textCol)), idCol, textCol,
      n = cfg.shingleN, numHashes = cfg.numHashes, bands = cfg.bands,
      threshold = cfg.nearDupThreshold,
      hash = cfg.minhashHash, bucketHash = cfg.minhashBucketHash,
      hotBucketThreshold = cfg.hotBucketThreshold, salts = cfg.salts)
    val textDeduped0 = DedupFunctions.dropNearDuplicates(exact, pairs, idCol)
    val textDeduped = holdout match {
      case Some(h) =>
        // the dedup survivors feed BOTH the contamination report and
        // the drop anti-join — pin them so the whole gate/dedup chain
        // executes once (the multi-consumer rule; Caches.releaseAll).
        // A pin, not a checkpoint: same shallow-depth argument as the
        // `exact` pin above (the r16 checkpoint A/B read c7 0.75×)
        val pinned = graft.Caches.trackedPersist(textDeduped0,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val contaminated = DedupFunctions.contaminationReport(
          pinned, h, idCol, textCol, n = cfg.decontamNgram)
          .filter(col("n_shared_grams") > cfg.maxSharedGrams)
          .select(col(idCol))
        pinned.join(contaminated, Seq(idCol), "left_anti")
      case _ => textDeduped0
    }
    (chunkEmbeddings, semantic) match {
      case (Some(chunks), Some(semCfg)) =>
        // the text-tier survivors feed BOTH the semantic tier's
        // survivor semi-join and the final cluster anti-join —
        // materialize them so the whole gate/scrub/dedup chain executes
        // once, not once per consumer; checkpointed (not pinned) so the
        // semantic tier plans against a leaf (released via
        // Caches.releaseAll, like every operator-internal pin)
        val pinned = graft.Caches.trackedCheckpoint(textDeduped)
        holdoutChunks match {
          case Some(hc) =>
            // semantic-decon tier: ONE pooling pass serves both the
            // dedup tier and the holdout-cosine gate (the pool-once
            // rule); the holdout pools through the SAME path so both
            // sides carry the identical 6dp/quantized vector shape.
            val pooled = graft.Caches.trackedCheckpoint(
              pooledVectors(pinned.select(col(idCol).as(chunkIdCol)),
                chunks, chunkIdCol, vecCol, semCfg))
            val afterSem = semanticDedupPooled(pinned, idCol, pooled, semCfg)
            val holdVecs = pooledVectors(
              hc.select(col(chunkIdCol)).distinct(), hc,
              chunkIdCol, vecCol, semCfg)
            val dropIds = SimilarityFunctions
              .semanticDecontaminate(pooled, holdVecs.select(col("vec")),
                tau = semCfg.deconMinCosine,
                vecCol = "vec", holdoutVecCol = "vec")
              .filter(col("contaminated"))
              .select(col("id").as(idCol))
            afterSem.join(dropIds, Seq(idCol), "left_anti")
          case _ =>
            semanticDedup(pinned, idCol, chunks, chunkIdCol, vecCol, semCfg)
        }
      case _ => textDeduped
    }
  }

  /** Incremental ingestion — the nightly-crawl flow: clean a new batch
    * and drop everything already represented in the ingested corpus,
    * WITHOUT ever re-pairing the corpus against itself. Returns the
    * batch's surviving rows (text scrubbed), ready for
    * [[graft.warehouse.Warehouse]]'s dedup-append. This is the
    * distributed answer to a per-row INSERT-OR-IGNORE append
    * (reference `/root/reference/src/database.py:192-224`): same
    * idempotence contract — appending a batch twice adds nothing —
    * with near-duplicate (not just exact) suppression.
    *
    * Stages, in order:
    *  1. batch-internal [[clean]]: gates → scrub → exact dedup →
    *     MinHash-LSH drop (→ semantic tier when armed) — the batch
    *     must first be internally canonical or two new copies of the
    *     same document would both "survive" the corpus check;
    *  2. exact-vs-corpus: fingerprint anti-join — `existing` holds
    *     ALREADY-CLEANED text (it was ingested through this pipeline),
    *     so a re-submitted document scrubs to the identical bytes and
    *     drops here;
    *  3. near-dup-vs-corpus: [[DedupFunctions.minhashLshPairsAgainst]]
    *     emits (existing, batch) candidate pairs from a cross-side
    *     banded join — no existing×existing pairs — and the batch
    *     member of every verified pair drops;
    *  4. semantic-vs-corpus (when `semantic` and BOTH chunk frames are
    *     given): mean-pooled (6dp) doc vectors on each side, then
    *     [[SimilarityFunctions.lshNeighborPairsAgainst]] — again
    *     cross-side only — drops the batch member of every verified
    *     cosine pair.
    *
    * Scale shape: this overload derives BOTH corpus-side indexes from
    * the live frames on the fly — acceptable for one-off merges, but a
    * nightly job at 100 TB must not re-derive corpus state per batch:
    * store the [[TextIndex]] (and [[SemanticIndex]]) as parquet, extend
    * them with each accepted batch's index rows, and call
    * [[appendBatchIndexed]] — history is then never re-read,
    * re-tokenized, re-signatured, or re-pooled (that is [[ingest]]'s
    * protocol). Every cross-side join is batch-sized on one side, so
    * Catalyst broadcasts it. Nothing in this path shuffles the corpus.
    */
  def appendBatch(existing: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, cfg: CorpusConfig = CorpusConfig(),
      existingChunks: Option[DataFrame] = None,
      batchChunks: Option[DataFrame] = None,
      chunkIdCol: String = "doc_id", vecCol: String = "embedding",
      semantic: Option[SemanticConfig] = None,
      holdout: Option[DataFrame] = None): DataFrame = {
    require(existingChunks.isEmpty == semantic.isEmpty &&
        batchChunks.isEmpty == semantic.isEmpty,
      "semantic append needs BOTH sides' chunk-embedding frames and a SemanticConfig")
    val semIdx = (existingChunks, semantic) match {
      case (Some(ch), Some(sc)) => Some(buildSemanticIndex(
        existing.select(col(idCol).as(chunkIdCol)), ch, chunkIdCol, vecCol, sc))
      case _ => None
    }
    appendBatchIndexed(buildTextIndex(existing, idCol, textCol, cfg),
      batch, idCol, textCol, cfg, semIdx, batchChunks,
      chunkIdCol, vecCol, semantic, holdout = holdout)
  }

  /** The corpus-side TEXT dedup state [[appendBatchIndexed]] joins
    * against — three plain columnar frames, all derivable per batch at
    * its own accept time and append-maintained forever after:
    * `fingerprints` is `(id, fp)` (md5 of normalized text, 16 bytes);
    * `shingles` is `(id, shingles)` (word n-grams, `cfg.shingleN`);
    * `bands` is `(id, band, bucket)` — the banded MinHash signature
    * keys ([[DedupFunctions.bandedSignatures]], `cfg.bands` rows/doc).
    * Storing `bands` is what makes the nightly path shuffle-free on the
    * corpus side: signatures are aggregations over shingles, and
    * without the stored table every batch would re-run that aggregation
    * over ALL of history ([[DedupFunctions.minhashLshPairsAgainstIndexed]]
    * instead equi-joins the stored keys). Write all three to the
    * warehouse as parquet, read them back next run, and append each
    * accepted batch's [[buildTextIndex]] rows after its commit.
    */
  final case class TextIndex(fingerprints: DataFrame, shingles: DataFrame,
      bands: DataFrame,
      // `(id, wfp)` winnow-fingerprint rows, present only for
      // containment-armed state (cfg.containmentThreshold) — the
      // corpus side of [[graft.functions.DedupFunctions
      // .containmentPairsAgainst]]'s nightly excerpt gate
      winnow: Option[DataFrame] = None)

  /** Derive the [[TextIndex]] of an (already-cleaned) corpus or of an
    * accepted batch: two scan-local projections plus ONE signature
    * aggregation sized by `docs` itself (at accept time that is the
    * night's batch, never history). The shingle frame feeds both the
    * stored table and the signature aggregation, so it is pinned (the
    * library-wide multi-consumer rule; released via `Caches.releaseAll`).
    */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
      cfg: CorpusConfig = CorpusConfig()): TextIndex = {
    val sh = graft.Caches.trackedPersist(
      docs.select(col(idCol).as("id"),
        DedupFunctions.wordShingles(col(textCol), cfg.shingleN).as("shingles")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TextIndex(
      fingerprints = docs.select(col(idCol).as("id"),
        TextFunctions.fingerprint(col(textCol)).as("fp")),
      shingles = sh,
      bands = DedupFunctions.bandedSignatures(sh, cfg.numHashes, cfg.bands,
        cfg.minhashHash, cfg.minhashBucketHash),
      // pinned like `sh` (r16): the containment gate consumes the
      // winnow rows through BOTH its df-cap aggregate and its pair
      // join, and unpinned each consumer re-ran the whole
      // winnowedFingerprints derivation (rolling-hash per char + one
      // digest per gram) from raw text — c11's plan showed the explode
      // 5x (per-broadcast-future re-execution). At accept time docs is
      // the night's batch, so the pin is batch-sized; the nightly
      // indexed path reads STORED winnow rows and never derives this.
      winnow = cfg.containmentThreshold.map(_ =>
        graft.Caches.trackedPersist(
          docs.select(col(idCol).as("id"),
            explode(TextFunctions.winnowedFingerprints(col(textCol),
              hash = cfg.winnowHash)).as("wfp")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
  }

  /** The corpus-side EMBEDDING dedup state — the semantic twin of
    * [[TextIndex]]: `vectors` is `(id, vec)` (per-document mean-pooled
    * chunk embeddings, 6dp-rounded, int8-quantized when the config says
    * so) and `bands` is `(id, band, key)` (banded hyperplane-LSH keys,
    * [[SimilarityFunctions.hyperplaneBands]]). Both are built from a
    * batch's own chunks at accept time and append-maintained; the
    * nightly semantic arm then never re-pools or re-signatures history.
    */
  final case class SemanticIndex(vectors: DataFrame, bands: DataFrame)

  /** Mean-pool `chunks` (restricted to `survivorIds`) to one `(id, vec)`
    * row per document — 6dp-rounded, quantized per `sc` — the exact
    * vector shape both dedup tiers compare. One explode + hash-agg;
    * nothing buffers a document's chunk set anywhere.
    */
  private def pooledVectors(survivorIds: DataFrame, chunks: DataFrame,
      chunkIdCol: String, vecCol: String, sc: SemanticConfig): DataFrame = {
    val alive = chunks.join(survivorIds, Seq(chunkIdCol), "left_semi")
    val p = SimilarityFunctions.assembleVec(
      SimilarityFunctions.meanPoolFlat(alive, chunkIdCol, vecCol)
        .withColumn("mean_v", round(col("mean_v"), 6)), chunkIdCol)
    val q =
      if (sc.quantize)
        p.select(col(chunkIdCol),
          SimilarityFunctions.quantizeInt8(col("vec")).getField("q").as("vec"))
      else p
    q.select(col(chunkIdCol).as("id"), col("vec"))
  }

  /** Derive the [[SemanticIndex]] of a document set from its chunk
    * embeddings — one pooling aggregation (sized by the documents being
    * indexed) plus a scan-local band projection. The pooled frame feeds
    * both stored tables, so it is pinned.
    */
  def buildSemanticIndex(survivorIds: DataFrame, chunks: DataFrame,
      chunkIdCol: String, vecCol: String, sc: SemanticConfig): SemanticIndex = {
    val vecs = graft.Caches.trackedPersist(
      pooledVectors(survivorIds, chunks, chunkIdCol, vecCol, sc),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SemanticIndex(vecs, SimilarityFunctions.hyperplaneBands(
      vecs, sc.dim, sc.nBits, sc.bands, "id", "vec", sc.seed))
  }

  /** [[appendBatch]] against precomputed corpus state — the steady-
    * state nightly shape: the corpus contributes only its 16-byte
    * fingerprints, its stored band keys (text AND semantic), and —
    * solely for candidate verification — its shingle and pooled-vector
    * tables; its text and chunk embeddings are not touched at all, and
    * NOTHING corpus-sided is aggregated, re-signatured, or re-pooled
    * (the stored-bands contract, spec-pinned against the plan).
    * Semantics are identical to [[appendBatch]] (same stages 1-4).
    *
    * `semanticIndex = None` with `semantic` armed means the corpus has
    * no vector state yet (e.g. it was seeded text-only): the batch
    * still semantic-dedups WITHIN itself via stage 1, and the
    * vs-corpus embedding arm is skipped — mixed-arming degrades
    * gracefully instead of failing the night.
    */
  /** Stage-2 exact-vs-corpus probe of [[appendBatchIndexed]], split out
    * so its plan shape is testable BEFORE the stage materializes (the
    * checkpoint erases the lineage from the returned plan). `withFp`
    * is the batch with its fingerprint column `fp` already attached;
    * returns the batch rows whose fingerprint is absent from
    * `indexFingerprints` (column `fp`), still carrying the `fp` column.
    *
    * The plain form is one anti-join. Its scale flaw is subtle: an
    * ANTI join can only broadcast its RIGHT (build) side, so however
    * small the batch is, Catalyst must SHUFFLE the corpus-sized
    * fingerprint table every night to execute batch anti-join index.
    *
    * The Bloom gate fixes both halves. Rows the corpus sketch rejects
    * are PROVEN absent (no false negatives) and skip the index
    * entirely — at steady state a fresh crawl is almost all misses.
    * The surviving hits (true duplicates plus the fpp fraction) are
    * tiny BY CONSTRUCTION, so their keys broadcast into a left-semi
    * probe of the index scan — the corpus side is now SCAN-ONLY (one
    * 16-byte column, row-groups prunable against the broadcast keys),
    * never shuffled — and the verified-present set, bounded by the
    * hit count, broadcasts back into the final row-local anti-join.
    * Nothing corpus-sized moves; the one remaining corpus cost is the
    * columnar fp-column read, which only a keyed store could remove.
    *
    * A null fingerprint (null text) can't match anything: it takes
    * the miss arm, same as the anti-join's null-key semantics.
    */
  private[graft] def exactProbe(indexFingerprints: DataFrame,
      withFp: DataFrame, fp: String,
      fpBloom: Option[org.apache.spark.util.sketch.BloomFilter]): DataFrame =
    fpBloom match {
      case Some(bloom) =>
        val hit = coalesce(
          graft.functions.BloomMightContain(col(fp), bloom), lit(false))
        val hits = withFp.filter(hit)
        val present = indexFingerprints.select(col("fp").as(fp))
          .join(broadcast(hits.select(col(fp)).distinct()), Seq(fp), "left_semi")
        withFp.filter(!hit).unionByName(
          hits.join(broadcast(present), Seq(fp), "left_anti"))
      case None =>
        withFp.join(indexFingerprints.select(col("fp").as(fp)), Seq(fp), "left_anti")
    }

  def appendBatchIndexed(index: TextIndex, batch: DataFrame, idCol: String,
      textCol: String, cfg: CorpusConfig = CorpusConfig(),
      semanticIndex: Option[SemanticIndex] = None,
      batchChunks: Option[DataFrame] = None,
      chunkIdCol: String = "doc_id", vecCol: String = "embedding",
      semantic: Option[SemanticConfig] = None,
      fpBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      holdout: Option[DataFrame] = None): DataFrame = {
    require(batchChunks.isEmpty == semantic.isEmpty,
      "semantic append needs BOTH the batch chunk frame and a SemanticConfig")
    require(semanticIndex.isEmpty || semantic.isDefined,
      "a SemanticIndex without a SemanticConfig cannot be used")
    import graft.Caches.trackedCheckpoint
    // Stage frames here MATERIALIZE as lineage-truncating checkpoints
    // (r16; was trackedPersist pins): the append pipeline stacks 4-6
    // multi-consumer stages on top of clean()'s own, and with plain
    // pins every later planning pass (AQE re-optimization per query
    // stage, CacheManager sameResult probes per entry) re-walks the
    // whole accumulated plan tree — measured as 13-19 s of driver gaps
    // in c6's 24-33 s wall (guide §7.3: materialize intermediates to
    // truncate very large plans). Same Caches.releaseAll protocol.
    //
    // 1. the batch becomes internally canonical. The semantic arm runs
    // OUTSIDE clean() here so the batch's chunk table pools exactly
    // ONCE — the materialized pooled frame serves the batch-internal
    // dedup now and the vs-corpus arm at stage 4 (the values are
    // identical: pooling is per-doc, and stage 4 only ever needs a
    // SUBSET of the ids pooled here). Avoids a second
    // explode+aggregation over the night's chunks.
    val textClean = trackedCheckpoint(
      clean(batch, idCol, textCol, cfg, holdout = holdout))
    val (batchClean, pooledBatch) = (batchChunks, semantic) match {
      case (Some(bCh), Some(sc)) =>
        val pooled = trackedCheckpoint(
          pooledVectors(textClean.select(col(idCol).as(chunkIdCol)), bCh,
            chunkIdCol, vecCol, sc))
        (trackedCheckpoint(
          semanticDedupPooled(textClean, idCol, pooled, sc)), Some(pooled))
      case _ => (textClean, None)
    }
    // 2. exact-vs-corpus fingerprint check (16-byte keys, never text)
    // — [[exactProbe]]: Bloom-gated when armed, so the corpus-sized
    // fingerprint table stays scan-only instead of shuffling every
    // night. The filters re-run the fingerprint projection, but over
    // the MATERIALIZED batch-clean frame — scan-local, never upstream
    // lineage.
    val fp = graft.ops.ColNames.fresh(batchClean.columns.toSet, "_fp")
    val withFp = batchClean.withColumn(fp, TextFunctions.fingerprint(col(textCol)))
    val probed = exactProbe(index.fingerprints, withFp, fp, fpBloom)
    // afterExact is a CHECKPOINT like the other stage frames, not a
    // pin: it is consumed by BOTH the LSH shingle branch and the final
    // anti-join, and a persist-pin whose subtree contains a checkpoint
    // leaf does not substitute for re-instanced occurrences —
    // LogicalRDD keeps its exprIds under canonicalization (unlike
    // LogicalRelation), so after the analyzer `newInstance()`s the
    // reused subtree to dedup attribute ids, CacheManager's sameResult
    // probe fails and every consumer re-executes the exact tier
    // (measured r16: only 1 of the pins substituted; the checkpoint
    // leaf appeared 9x inline). The exact tier's scan-only contract on
    // the fingerprint index is spec-pinned directly on [[exactProbe]]'s
    // plan (CorpusPipelineSpec "bloom-armed exact tier never SHUFFLES
    // the fingerprint index").
    val afterExact = trackedCheckpoint(probed.drop(fp))
    // 3. near-dup-vs-corpus: the batch signatures freshly; the corpus
    // side contributes its STORED band table for candidates and its
    // stored shingles for candidate verification only
    val batchShingles = afterExact.select(col(idCol).as("id"),
      DedupFunctions.wordShingles(col(textCol), cfg.shingleN).as("shingles"))
    val textPairs = DedupFunctions.minhashLshPairsAgainstIndexed(
      index.bands, index.shingles, batchShingles,
      numHashes = cfg.numHashes, bands = cfg.bands,
      threshold = cfg.nearDupThreshold,
      hash = cfg.minhashHash, bucketHash = cfg.minhashBucketHash)
    val textSafe00 = DedupFunctions.dropNearDuplicates(afterExact, textPairs, idCol)
    // 3b. containment-vs-corpus (when armed AND the corpus has stored
    // winnow state): batch docs that are excerpts/quotes of corpus docs
    // drop — the asymmetric class the symmetric LSH tier above misses.
    // The corpus side joins its STORED winnow rows; only the batch
    // winnows tonight. Mixed arming (no stored winnow yet) degrades
    // gracefully, like the semantic arm.
    val textSafe0 = (index.winnow, cfg.containmentThreshold) match {
      case (Some(wIdx), Some(th)) =>
        // textSafe00 feeds BOTH the containment probe and the final
        // anti-join's left side — unmaterialized, the vs-corpus LSH
        // tier above (candidate join + jaccard verify over the batch's
        // freshly-signatured bands) executed twice (r15 pin → r16
        // checkpoint, the multi-consumer rule)
        val safePinned = trackedCheckpoint(textSafe00)
        val contained = DedupFunctions.containmentPairsAgainst(
            wIdx, safePinned, idCol, textCol, threshold = th,
            maxDocFreq = cfg.containmentMaxDocFreq, hash = cfg.winnowHash)
          .select(col("contained_id").as(idCol)).distinct()
        safePinned.join(broadcast(contained), Seq(idCol), "left_anti")
      case _ => textSafe00
    }
    // 4. semantic-vs-corpus: the batch side REUSES the stage-1 pooled
    // vectors (semi-join restriction of the materialized frame — no
    // second pooling); the corpus contributes its STORED pooled vectors
    // and band keys. textSafe feeds both the restriction and the final
    // anti-join — materialize it so the text-tier LSH drop executes once
    (semanticIndex, pooledBatch, semantic) match {
      case (Some(semIdx), Some(pooled), Some(sc)) =>
        val textSafe = trackedCheckpoint(textSafe0)
        val incoming = pooled.join(
          textSafe.select(col(idCol).as("id")), Seq("id"), "left_semi")
        val vecPairs = SimilarityFunctions.lshNeighborPairsAgainstIndexed(
          semIdx.bands, semIdx.vectors, incoming,
          dim = sc.dim, nBits = sc.nBits, bands = sc.bands,
          minCosine = sc.minCosine, idCol = "id", vecCol = "vec",
          seed = sc.seed)
        DedupFunctions.dropNearDuplicates(textSafe, vecPairs, idCol)
      case _ => textSafe0
    }
  }

  // ------------------------------------------------------------------
  // Stateful ingest: commit-log state protocol
  //
  // stateDir/
  //   commits/commit_<token>      one tiny marker file per committed
  //                               batch — the single commit point; its
  //                               content is the batch's survivor count,
  //                               so corpus_total is a sum over markers
  //                               (driver-side, bounded by batch count)
  //                               instead of a nightly corpus scan
  //   corpus/batch_<token>/       the batch's surviving documents
  //   index_fp|index_sh|index_bd/batch_<token>/   TextIndex tables
  //   index_wf/batch_<token>/                     winnow rows (containment-armed)
  //   index_vec|index_vbd/batch_<token>/          SemanticIndex tables
  //                               (present only for semantic-armed
  //                               batches)
  //   index_bl/batch_<token>/bloom.bin            per-batch fingerprint
  //                               Bloom filter (present only for
  //                               bloom-armed batches; all share the
  //                               cfg-fixed geometry so they merge into
  //                               one corpus-wide sketch at read time)
  //
  // Readers assemble state from COMMITTED batch dirs only, so a crash
  // anywhere before the marker leaves invisible orphan files and the
  // batch replays cleanly (same token → the orphans are overwritten,
  // then committed; different token → content-level INSERT-OR-IGNORE
  // still drops every already-ingested document). A replay of an
  // ALREADY-COMMITTED token is skipped outright — exactly-once at the
  // batch level, on top of the content-level idempotence. The marker
  // is one small file created after every data write: the closest an
  // object store/HDFS gets to an atomic multi-table commit without an
  // external transaction log. All probes go through the Hadoop
  // FileSystem API, so hdfs:// and s3a:// state dirs behave exactly
  // like local paths.
  //
  // SINGLE WRITER, like a Structured Streaming checkpoint dir: one
  // ingesting job per state dir at a time (the scheduler's job — the
  // nightly cron, or the one ingestStream query, which serializes its
  // own micro-batches). Two CONCURRENT writers could derive the same
  // next token and overwrite each other's staged dirs mid-write; the
  // commit log makes crashes and replays safe, not interleaved
  // writers. Multi-writer upgrades (Delta/Iceberg-style CAS on a log
  // entry) slot in behind this same layout; dedup correctness never
  // depends on it because content-level INSERT-OR-IGNORE holds
  // regardless of which writer's batch lands first.
  // ------------------------------------------------------------------

  /** The Bloom-probe auto-arm rule of [[ingest]], factored for direct
    * spec coverage: probe only when the gate is configured AND the
    * committed corpus clears both floors — at least
    * `cfg.fpBloomMinCorpusRows` rows (else the fingerprint table
    * broadcasts and the plain anti-join is already shuffle-free) and
    * at least `cfg.fpBloomMinRatio` nightly batches big (else the hit
    * set the gate must broadcast stops being small). Ratio ≤ 0 =
    * probe whenever configured, ignoring both floors (the explicit
    * override, and the pre-r11 behavior).
    */
  private[corpus] def bloomProbeArmed(cfg: CorpusConfig, corpusRows: Long,
      batchRows: Long): Boolean =
    cfg.fpBloomItems.isDefined &&
      (cfg.fpBloomMinRatio <= 0.0 ||
        (corpusRows >= cfg.fpBloomMinCorpusRows &&
          corpusRows.toDouble >= cfg.fpBloomMinRatio * batchRows.toDouble))

  private def stateFs(spark: SparkSession, stateDir: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Tokens of committed batches, in commit order (derived tokens sort
    * numerically; the listing is one driver-side `listStatus`, bounded
    * by the number of ingested batches).
    */
  private def committedTokens(spark: SparkSession, stateDir: String): Seq[String] = {
    val fs = stateFs(spark, stateDir)
    val dir = new org.apache.hadoop.fs.Path(s"$stateDir/commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("commit_")).map(_.stripPrefix("commit_")).sorted
  }

  /** Total committed corpus rows, summed from the counts the commit
    * markers carry — a driver-side listing plus one tiny read per
    * committed batch, NEVER a corpus scan (at 100 TB a nightly
    * `count()` would launch a job over every corpus file's footer just
    * to report a number the commit log already knows). Markers written
    * by an older (empty-marker) layout fall back to the one-off scan.
    */
  private def corpusTotal(spark: SparkSession, stateDir: String): Long = {
    val fs = stateFs(spark, stateDir)
    val counts = committedTokens(spark, stateDir).map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$stateDir/commits/commit_$t")
      val in = fs.open(p)
      try scala.util.Try(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          .trim.toLong).toOption
      finally in.close()
    }
    if (counts.nonEmpty && counts.forall(_.isDefined)) counts.flatten.sum
    else if (counts.isEmpty) 0L
    else readCorpus(spark, stateDir).count()
  }

  /** Committed batch directories of one state table that actually exist
    * (the SemanticIndex tables exist only for semantic-armed batches).
    */
  private def committedDirs(spark: SparkSession, stateDir: String,
      table: String): Seq[String] = {
    val fs = stateFs(spark, stateDir)
    committedTokens(spark, stateDir)
      .map(t => s"$stateDir/$table/batch_$t")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
  }

  /** The committed corpus as one frame. Fails loudly on an unseeded
    * state dir rather than inventing an empty schema.
    */
  def readCorpus(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = committedDirs(spark, stateDir, "corpus")
    require(dirs.nonEmpty, s"no committed corpus batches under $stateDir")
    spark.read.parquet(dirs: _*)
  }

  /** The committed [[TextIndex]] (all three stored tables). */
  def readTextIndex(spark: SparkSession, stateDir: String): TextIndex =
    readTextIndex(spark, stateDir, idType = None)

  /** [[readTextIndex]]; with `idType` given, the fingerprint, shingle
    * and band tables read with the schemas [[buildTextIndex]] writes
    * (ids of that type) instead of inferring each from a file footer,
    * which costs one job per table. [[ingest]] passes its batch's id
    * type, the type every batch it committed was written with.
    */
  private def readTextIndex(spark: SparkSession, stateDir: String,
      idType: Option[DataType]): TextIndex = {
    def tbl(name: String, fields: (String, DataType)*): DataFrame = {
      val dirs = committedDirs(spark, stateDir, name)
      require(dirs.nonEmpty, s"no committed $name batches under $stateDir")
      idType.fold(spark.read)(t => spark.read.schema(StructType(
          (("id" -> t) +: fields).map { case (n, dt) => StructField(n, dt) })))
        .parquet(dirs: _*)
    }
    // winnow rows exist only for containment-armed state — optional by
    // construction, like the SemanticIndex tables
    val wf = committedDirs(spark, stateDir, "index_wf")
    TextIndex(tbl("index_fp", "fp" -> StringType),
      tbl("index_sh", "shingles" -> ArrayType(StringType)),
      tbl("index_bd", "band" -> IntegerType, "bucket" -> LongType),
      winnow = if (wf.isEmpty) None else Some(spark.read.parquet(wf: _*)))
  }

  /** The committed [[SemanticIndex]], or None when no committed batch
    * was semantic-armed (a text-only corpus).
    */
  def readSemanticIndex(spark: SparkSession, stateDir: String): Option[SemanticIndex] = {
    val vecs = committedDirs(spark, stateDir, "index_vec")
    val bands = committedDirs(spark, stateDir, "index_vbd")
    if (vecs.isEmpty || bands.isEmpty) None
    else Some(SemanticIndex(
      spark.read.parquet(vecs: _*), spark.read.parquet(bands: _*)))
  }

  /** The corpus-wide fingerprint Bloom filter: every committed batch's
    * stored filter, merged (same geometry by the cfg contract — a
    * mid-corpus knob change surfaces as the merge error it is, with the
    * remedy in the message). Returns None when ANY committed batch
    * lacks a filter: a partial sketch would have false NEGATIVES for
    * the uncovered batches' fingerprints — the one failure mode a
    * Bloom gate must never have — so mixed state disarms the gate
    * (correct, just join-speed) instead of silently dropping nothing.
    * Driver-side: one tiny file read per committed batch.
    */
  def readFpBloom(spark: SparkSession, stateDir: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val fs = stateFs(spark, stateDir)
    val toks = committedTokens(spark, stateDir)
    if (toks.isEmpty) return None
    val paths = toks.map(t =>
      new org.apache.hadoop.fs.Path(s"$stateDir/index_bl/batch_$t/bloom.bin"))
    if (!paths.forall(fs.exists)) None
    else {
      val filters = paths.map { p =>
        val in = fs.open(p)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      }
      Some(filters.reduce { (a, b) =>
        try a.mergeInPlace(b)
        catch {
          case e: org.apache.spark.util.sketch.IncompatibleMergeException =>
            throw new IllegalStateException(
              s"committed Bloom filters under $stateDir have mixed geometry — " +
                "fpBloomItems/fpBloomFpp changed mid-corpus; compact with the " +
                "new knobs to rebuild one consistent sketch", e)
        }
      })
    }
  }

  /** Write one batch's fingerprint Bloom filter into the staged layout
    * (committed, like every other table, by the batch's marker).
    */
  private def writeFpBloom(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String, token: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$stateDir/index_bl/batch_$token/bloom.bin")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  /** Compact a commit-log state dir into `targetDir`: every committed
    * table consolidates into ONE batch dir (`batch_b0000000000`) under
    * a fresh commit log whose single marker carries the total count.
    * Years of nightly ingests leave one dir per (table, batch) — the
    * listings stay cheap (driver-side, one `listStatus` per table) but
    * parquet fragments: each nightly append writes files sized by that
    * NIGHT's survivors, so scan planning at 100 TB eventually opens
    * thousands of small footers per table. Compaction is one
    * partitioned read → write per table, all columnar, no dedup logic
    * re-run (the state is already canonical by construction).
    *
    * Writes to a NEW directory rather than rewriting in place: swapping
    * markers inside a live state dir has no atomic multi-file commit
    * (a crash between "new marker created" and "old markers removed"
    * would double-count every row), while pointing the nightly job at
    * `targetDir` after a completed compaction is a single orchestration
    * step with the same crash story as any other batch: `targetDir`
    * missing its `commits/` is simply not adopted. The source dir is
    * left untouched for the operator to retire.
    *
    * Returns the compacted corpus row count. Token `b0000000000` keeps
    * derived-token ingestion flowing (next derived token is b…1).
    */
  def compact(spark: SparkSession, stateDir: String, targetDir: String): Long = {
    val fs = stateFs(spark, targetDir)
    require(committedTokens(spark, stateDir).nonEmpty,
      s"nothing committed under $stateDir to compact")
    // guard on COMMITTED tokens, not the commits dir: a compact that
    // crashed between mkdirs and marker-create leaves an empty commits/
    // that must not block the rerun (its data orphans get overwritten)
    require(committedTokens(spark, targetDir).isEmpty,
      s"$targetDir already holds committed state")
    val token = "b0000000000"
    val corpus = readCorpus(spark, stateDir)
    val n = corpus.count()
    corpus.write.mode("overwrite").parquet(s"$targetDir/corpus/batch_$token")
    val idx = readTextIndex(spark, stateDir)
    idx.fingerprints.write.mode("overwrite").parquet(s"$targetDir/index_fp/batch_$token")
    idx.shingles.write.mode("overwrite").parquet(s"$targetDir/index_sh/batch_$token")
    idx.bands.write.mode("overwrite").parquet(s"$targetDir/index_bd/batch_$token")
    idx.winnow.foreach(_.write.mode("overwrite")
      .parquet(s"$targetDir/index_wf/batch_$token"))
    readSemanticIndex(spark, stateDir).foreach { sIdx =>
      sIdx.vectors.write.mode("overwrite").parquet(s"$targetDir/index_vec/batch_$token")
      sIdx.bands.write.mode("overwrite").parquet(s"$targetDir/index_vbd/batch_$token")
    }
    // the merged corpus-wide Bloom sketch carries over as the single
    // batch's filter; a mixed-arming source (readFpBloom → None) keeps
    // the compacted dir bloom-free rather than writing a sketch with
    // false negatives for the uncovered batches
    readFpBloom(spark, stateDir).foreach(b => writeFpBloom(fs, targetDir, token, b))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$targetDir/commits"))
    val marker = fs.create(new org.apache.hadoop.fs.Path(
      s"$targetDir/commits/commit_$token"), true)
    try marker.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally marker.close()
    n
  }

  /** Stateful nightly ingest — the driver loop around
    * [[appendBatchIndexed]]: `stateDir` holds the corpus, its
    * [[TextIndex]] and (when armed) its [[SemanticIndex]] as plain
    * parquet under the commit-log layout above. The first committed
    * batch seeds the state; every later call drops the batch against
    * the STORED indexes (history is never re-read, re-tokenized,
    * re-signatured, or re-pooled), appends the survivors, and extends
    * every index with exactly their rows. Re-ingesting a batch is a
    * no-op at two independent levels: an already-committed `batchId`
    * is skipped outright, and replayed CONTENT drops against the
    * indexes (the INSERT-OR-IGNORE contract, spec-pinned).
    *
    * The semantic tier arms per call: pass the batch's chunk-embedding
    * frame and a [[SemanticConfig]] and the batch both dedups against
    * the stored vector index and contributes its own pooled vectors to
    * it. A corpus seeded text-only degrades gracefully (vs-corpus
    * embedding checks begin once vector state exists) — but the REVERSE
    * downgrade is refused: once a committed batch has armed the
    * semantic tier, a text-only call would append survivors the stored
    * vector index never sees, so every later semantic batch would
    * silently dedup against a partial index. That call fails fast
    * instead of corrupting the invariant (arm the call, or compact to
    * a text-only state dir to deliberately drop the tier).
    *
    * Survivors are eagerly checkpointed before any write — their
    * lineage reads committed state, and a lazy plan re-executing
    * mid-write could otherwise see in-flight files. Returns
    * ingested/corpus-total counts.
    */
  def ingest(spark: SparkSession, stateDir: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      cfg: CorpusConfig = CorpusConfig(),
      batchChunks: Option[DataFrame] = None,
      chunkIdCol: String = "doc_id", vecCol: String = "embedding",
      semantic: Option[SemanticConfig] = None,
      batchId: Option[String] = None,
      holdout: Option[DataFrame] = None): Map[String, Long] = {
    require(batchChunks.isEmpty == semantic.isEmpty,
      "semantic ingest needs BOTH the batch chunk frame and a SemanticConfig")
    val fs = stateFs(spark, stateDir)
    val committed = committedTokens(spark, stateDir)
    // derived tokens are zero-padded so the commit listing sorts in
    // ingest order lexicographically (b0000000000, b0000000001, ...)
    val token = batchId.getOrElse {
      val next = committed.filter(_.startsWith("b"))
        .map(_.drop(1).toLong).maxOption.map(_ + 1L).getOrElse(0L)
      f"b$next%010d"
    }
    require(!token.contains("/"), s"batchId must not contain '/' (got $token)")
    if (committed.contains(token))
      // batch-level exactly-once: this token already committed — the
      // crash-replay and at-least-once-redelivery case
      return Map("ingested" -> 0L,
        "corpus_total" -> corpusTotal(spark, stateDir))
    // downgrade guard: a text-only call against semantic-armed state
    // would append survivors invisible to the stored vector index —
    // every later semantic batch would dedup against a silently-partial
    // index. Cheap driver-side listing; only probed on the risky arm.
    if (semantic.isEmpty && committed.nonEmpty)
      require(readSemanticIndex(spark, stateDir).isEmpty,
        s"$stateDir holds a committed SemanticIndex; pass batchChunks + " +
          "SemanticConfig so this batch extends it (or compact to a new " +
          "text-only state dir to drop the semantic tier deliberately)")
    val docs = batch.select(col(idCol), col(textCol))
    val cleaned =
      if (committed.isEmpty)
        clean(docs, idCol, textCol, cfg, batchChunks, chunkIdCol, vecCol,
          semantic, holdout = holdout)
      else appendBatchIndexed(
        readTextIndex(spark, stateDir, Some(docs.schema(idCol).dataType)), docs, idCol,
        textCol, cfg,
        semanticIndex = semantic.flatMap(_ => readSemanticIndex(spark, stateDir)),
        batchChunks = batchChunks, chunkIdCol = chunkIdCol, vecCol = vecCol,
        semantic = semantic,
        // the PROBE arms only when the cfg asks, every committed batch
        // stored a filter (readFpBloom's no-false-negative rule), AND
        // the corpus:batch ratio clears cfg.fpBloomMinRatio — below the
        // crossover the plain anti-join is cheaper (filters still get
        // WRITTEN below, so the sketch stays complete for the night the
        // ratio clears)
        // the batch count() job only runs when the ratio test can use
        // it — with the gate unconfigured (or the ratio floor disabled)
        // Scala's strict argument evaluation would otherwise scan the
        // whole uncached batch just to discard the number
        fpBloom =
          if (cfg.fpBloomItems.isDefined &&
              (cfg.fpBloomMinRatio <= 0.0 ||
                bloomProbeArmed(cfg, corpusTotal(spark, stateDir), docs.count())))
            readFpBloom(spark, stateDir)
          else None,
        holdout = holdout)
    val (survivors, releaseSurvivors) =
      graft.internal.Checkpoints.localCheckpointTracked(cleaned)
    try {
      val n = survivors.count()
      // batch-scoped staged writes: mode("overwrite") into THIS batch's
      // dirs, so a crashed attempt's orphans are replaced, never mixed
      survivors.write.mode("overwrite").parquet(s"$stateDir/corpus/batch_$token")
      val idx = buildTextIndex(survivors, idCol, textCol, cfg)
      idx.fingerprints.write.mode("overwrite").parquet(s"$stateDir/index_fp/batch_$token")
      idx.shingles.write.mode("overwrite").parquet(s"$stateDir/index_sh/batch_$token")
      idx.bands.write.mode("overwrite").parquet(s"$stateDir/index_bd/batch_$token")
      idx.winnow.foreach(_.write.mode("overwrite")
        .parquet(s"$stateDir/index_wf/batch_$token"))
      // bloom-armed batches stage their fingerprint sketch with the
      // other index tables (one aggregation over the checkpointed
      // survivors; geometry fixed by the cfg so all batches merge)
      cfg.fpBloomItems.foreach { items =>
        writeFpBloom(fs, stateDir, token, graft.functions.DedupFunctions
          .fingerprintBloom(idx.fingerprints, "fp", items, cfg.fpBloomFpp))
      }
      (batchChunks, semantic) match {
        case (Some(ch), Some(sc)) =>
          val sIdx = buildSemanticIndex(
            survivors.select(col(idCol).as(chunkIdCol)), ch, chunkIdCol, vecCol, sc)
          sIdx.vectors.write.mode("overwrite").parquet(s"$stateDir/index_vec/batch_$token")
          sIdx.bands.write.mode("overwrite").parquet(s"$stateDir/index_vbd/batch_$token")
        case _ => ()
      }
      // COMMIT POINT: one marker file carrying the survivor count;
      // until it exists none of the writes above are visible to any
      // reader
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stateDir/commits"))
      val marker = fs.create(new org.apache.hadoop.fs.Path(
        s"$stateDir/commits/commit_$token"), true)
      try marker.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally marker.close()
      Map("ingested" -> n,
        "corpus_total" -> corpusTotal(spark, stateDir))
    } finally {
      releaseSurvivors()
      // the append's internal pins (batch-clean, after-exact, index
      // frames) served their consumers; ingest is a single-tenant
      // driver entry, so drain them like Bench/Verify do between queries
      graft.Caches.releaseAll()
    }
  }

  /** Continuous ingestion: every micro-batch of a STREAMING document
    * frame runs the same [[ingest]] flow the nightly job runs, against
    * the same parquet state dir — a crawl can feed the corpus live and
    * hand off to (or from) batch ingestion with no state migration.
    *
    * Delivery semantics: the micro-batch's streaming `batchId` becomes
    * the commit token (namespaced `s<id>` so it can never collide with
    * the nightly job's derived tokens), so a foreachBatch REPLAY of a
    * committed batch is skipped outright — exactly-once at the batch
    * level. Even across token namespaces (batch job and stream feeding
    * one corpus), re-delivered content drops against the stored
    * indexes, so the corpus converges to the exactly-once result. A
    * crash mid-batch leaves only uncommitted orphan files that the
    * replay overwrites — see the commit-log notes above.
    *
    * `chunksForBatch` arms the semantic tier per micro-batch: given the
    * batch's documents it returns their chunk-embedding frame (join a
    * side table, call an embedding service, ...).
    */
  def ingestStream(stateDir: String, docs: DataFrame, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      cfg: CorpusConfig = CorpusConfig(),
      chunksForBatch: Option[DataFrame => DataFrame] = None,
      chunkIdCol: String = "doc_id", vecCol: String = "embedding",
      semantic: Option[SemanticConfig] = None,
      holdout: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(chunksForBatch.isEmpty == semantic.isEmpty,
      "semantic streaming ingest needs BOTH a chunk-frame provider and a SemanticConfig")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // empty micro-batches (timer tick, replay tail) skip the state
        // round-trip entirely
        if (!batch.isEmpty) {
          ingest(batch.sparkSession, stateDir, batch, idCol, textCol, cfg,
            batchChunks = chunksForBatch.map(f => f(batch)),
            chunkIdCol = chunkIdCol, vecCol = vecCol, semantic = semantic,
            batchId = Some(s"s$bid"), holdout = holdout)
          ()
        }
      }
      .start()
  }

  /** Full run: read → clean (text tiers, plus the embedding tier when
    * `semantic` is set — chunk vectors come from the side-by-side
    * embeddings table, keyed by `semantic.chunksPerDoc`) → split →
    * export shards. Returns per-split row counts.
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
      cfg: CorpusConfig = CorpusConfig(),
      semantic: Option[SemanticConfig] = None): Map[String, Long] = {
    val docs = spark.read.parquet(s"$inDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val chunks = semantic.map(sc =>
      spark.read.parquet(s"$inDir/embeddings.parquet")
        .select(expr(s"vec_id div ${sc.chunksPerDoc}").as("doc_id"), col("embedding")))
    val cleaned = clean(docs, "doc_id", "text", cfg,
      chunkEmbeddings = chunks, semantic = semantic)
    val tagged = cleaned.withColumn("split",
      SamplingFunctions.splitColumn(
        col("doc_id").cast("string"), cfg.pctTrain, cfg.pctValid))
    new ShardWriter(spark).exportShards(
      tagged, outDir, "doc_id", cfg.shards, splitCol = Some("split"))
  }

  /** CLI: `runMain graft.corpus.CorpusPipeline <sfDir> <outDir>
    * [--semantic [dim]] [--ingest [nights]]` — `--semantic` adds the
    * embedding-tier dedup (default dim 64, the testdata embedding
    * width); `--ingest` runs the STATEFUL nightly flow instead of the
    * one-shot shard export: the input splits into `nights` batches
    * (default 3) that [[ingest]] into `outDir` as a commit-log state
    * dir, then the last batch replays to demonstrate the
    * INSERT-OR-IGNORE no-op.
    */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val flags = args.drop(2)
    def flagArg(flag: String): Option[String] = {
      val i = flags.indexOf(flag)
      if (i < 0) None
      else Some(flags.lift(i + 1).filterNot(_.startsWith("--")).getOrElse(""))
    }
    val semantic = flagArg("--semantic").map(d =>
      SemanticConfig(dim = if (d.isEmpty) 64 else d.toInt))
    // --gopher [minWords[,minStopwordHits]] arms the full Gopher filter
    val gopher = flagArg("--gopher").map { v =>
      val parts = v.split(",").filter(_.nonEmpty)
      GopherConfig(
        minWords = parts.headOption.map(_.toLong).getOrElse(50L),
        minStopwordHits = parts.lift(1).map(_.toInt).getOrElse(2))
    }
    val spark = graft.Sessions.local()
    // --classifier [lang[:minScore]] trains is-<lang> NB log-odds on the
    // even-id half of the input's lang labels and gates at minScore —
    // the self-contained CLI form of the classifier screen (a real
    // deployment passes a persisted weights artifact via the API).
    // minScore is CORPUS-CALIBRATED, not universal: NB's sigmoid
    // centers at the class prior (bias = ln tp/tn), so a minority
    // positive class puts the whole score range below 0.5 — read the
    // score distribution (the cls1 registry query) before picking the
    // cut, exactly as with any production quality classifier.
    val classifier = flagArg("--classifier").map { v =>
      val parts = if (v.isEmpty) Array("en") else v.split(":")
      val lang = parts(0)
      val minScore = parts.lift(1).map(_.toDouble).getOrElse(0.5)
      val labeled = spark.read.parquet(s"$inDir/documents.parquet")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), (col("lang") === lang).as("label"))
      val (w, b) = graft.functions.ClassifierFunctions.naiveBayesWeights(
        labeled, "text", "label")
      ClassifierGateConfig(w, b, minScore)
    }
    val cfg = CorpusConfig(gopherFilter = gopher, classifierGate = classifier)
    flagArg("--ingest") match {
      case Some(n) =>
        val nights = if (n.isEmpty) 3 else n.toInt
        val docs = spark.read.parquet(s"$inDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val chunks = semantic.map(sc =>
          spark.read.parquet(s"$inDir/embeddings.parquet")
            .select(expr(s"vec_id div ${sc.chunksPerDoc}").as("doc_id"), col("embedding")))
        def night(i: Int): DataFrame = docs.filter(pmod(col("doc_id"), lit(nights)) === i)
        (0 until nights).foreach { i =>
          val c = ingest(spark, outDir, night(i), cfg = cfg,
            batchChunks = chunks, semantic = semantic)
          println(s"night $i: ingested=${c("ingested")} corpus_total=${c("corpus_total")}")
        }
        val replay = ingest(spark, outDir, night(nights - 1), cfg = cfg,
          batchChunks = chunks, semantic = semantic)
        println(s"replay of night ${nights - 1}: ingested=${replay("ingested")} " +
          s"corpus_total=${replay("corpus_total")} (INSERT-OR-IGNORE no-op)")
      case None =>
        val counts = run(spark, inDir, outDir, cfg = cfg, semantic = semantic)
        println("corpus shards written: " + counts.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(", "))
    }
    spark.stop()
  }
}
