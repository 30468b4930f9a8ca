package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design notes (the whole point of these algorithms):
  *  - exact dedup = hash-groupBy: one shuffle on the fingerprint, never on
  *    the text; at 100 TB shuffle md5 keys (16 bytes/row), not documents.
  *  - MinHash LSH: candidate generation is a self-join on (band, bucket)
  *    — an equi-join Catalyst can hash-partition — instead of the O(n²)
  *    all-pairs compare. Bands/rows tune the S-curve.
  *  - SimHash: 64-bit signature, near-dup candidates = equal signature
  *    bands (4×16-bit chunks → Hamming distance ≤ 3 guaranteed recall).
  *  - verification joins re-check true Jaccard only on candidates.
  */
object DedupFunctions {

  /** Word shingles (n-grams of whitespace tokens) as a distinct array.
    * Empty/short docs → their full token string as the single shingle.
    */
  def wordShingles(text: Column, n: Int): Column =
    // bind the token split once: a captured `toks` would re-split the
    // text on EVERY shingle position (O(len·positions) per row)
    graft.functions.TextFunctions.bound(split(lower(trim(text)), "\\s+")) { toks =>
      val k = size(toks) - (n - 1)
      when(k <= 0, array(concat_ws(" ", toks)))
        .otherwise(array_distinct(transform(
          sequence(lit(0), k - 1),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
    }

  /** Exact duplicate groups on a fingerprint column: every group with >1
    * member, with the canonical survivor (min doc id) marked.
    */
  def exactDupGroups(df: DataFrame, idCol: String, fpCol: String): DataFrame =
    df.groupBy(col(fpCol)).agg(
      count(lit(1)).as("group_size"),
      min(col(idCol)).as("canonical_id"))
      .filter(col("group_size") > 1)

  /** Exact dedup: keep the min-id row per fingerprint; deterministic
    * survivor (ids unique by contract).
    *
    * ONE hash aggregation, `min_by(row-struct, id)` keyed on the
    * fingerprint — deliberately NOT `row_number() over (partition by
    * fp)` and NOT an agg+join-back: the window sends a crawl's
    * most-duplicated page (one fingerprint, millions of copies)
    * through ONE task and sorts the pile there, and a join-back pays
    * the upstream lineage twice (at 100 TB, two corpus scans). Here
    * the map-side partial keeps a single candidate row per fingerprint
    * per task — the hot fingerprint collapses BEFORE the shuffle — the
    * reduce side merges at most one row per task, and nothing sorts.
    */
  def dedupExact(df: DataFrame, idCol: String, fpCol: String): DataFrame = {
    val cols = df.columns
    val row = graft.ops.ColNames.fresh(cols.toSet, "_row")
    df.groupBy(col(fpCol))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as(row))
      .select(cols.map(c => col(s"$row.`$c`").as(c)).toIndexedSeq: _*)
  }

  /** Distinct character q-grams of a string; strings of length ≤ q
    * yield themselves as the single gram (the [[wordShingles]] short-doc
    * convention).
    */
  def charGrams(text: Column, q: Int): Column =
    graft.functions.TextFunctions.bound(text) { t =>
      graft.functions.TextFunctions.bound(length(t)) { n =>
        when(n <= q, array(t)).otherwise(array_distinct(transform(
          sequence(lit(0), n - q), i => t.substr(i + 1, lit(q)))))
      }
    }

  /** Near-duplicate pairs by bounded edit distance — the title / name /
    * short-field dedup a catalog or metadata pipeline runs where
    * Jaccard is too coarse ("Reprt 2024" vs "Report 2024"). Returns
    * `(id_a, id_b, dist)` for every pair with Levenshtein distance ≤
    * `maxDist` that shares at least one character q-gram.
    *
    * Recall contract (q-gram count lemma, Ukkonen TCS 1992): d edits
    * destroy at most d·q of a string's (len − q + 1) positional
    * q-grams, so any pair within distance `maxDist` whose longer side
    * has more than `maxDist`·q grams MUST share one — blocking is
    * complete for strings longer than q·(maxDist+1) + q − 1 chars;
    * shorter strings may only be found via their whole-string gram.
    * The `maxDf` cap drops corpus-universal grams (the jaccardPairs
    * shape — over-cap grams broadcast into a map-side anti-join);
    * capped grams trade recall for never letting one boilerplate gram
    * build an O(df²) candidate block.
    *
    * Scale shape: explode to (id, gram) rows; candidate generation is
    * an equi-join on the gram with an |len_a − len_b| ≤ maxDist
    * prefilter; `distinct` collapses multi-gram agreement BEFORE the
    * texts are fetched (one hash agg on id pairs); only candidate
    * pairs join the raw strings back and pay the Levenshtein verify —
    * with the threshold form, which early-exits at maxDist+1.
    * Intended for SHORT strings (titles): the gram explode carries
    * ids + lengths only, never the text.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 2, q: Int = 3, maxDf: Long = 1000L,
      broadcastOverCap: Boolean = true): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    require(q >= 1, s"q must be >= 1 (got $q)")
    val base = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(col("txt").isNotNull)
      .withColumn("len", length(col("txt")))
    val grams0 = base.select(col("id"), col("len"),
      explode(charGrams(col("txt"), q)).as("g"))
    val overCap0 = grams0.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("g"))
    val overCap = if (broadcastOverCap) broadcast(overCap0) else overCap0
    val grams = grams0.join(overCap, Seq("g"), "left_anti")
    val a = grams.select(col("id").as("id_a"), col("len").as("len_a"), col("g"))
    val b = grams.select(col("id").as("id_b"), col("len").as("len_b"), col("g"))
    val cand = a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("txt").as("_ta")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("txt").as("_tb")), Seq("id_b"))
      // threshold form: the DP early-exits once a row of the edit
      // matrix exceeds maxDist (returns -1), so far-apart candidates
      // cost O(len·maxDist), not O(len²)
      .withColumn("dist", levenshtein(col("_ta"), col("_tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Graded record-linkage pairs by Jaro-Winkler similarity — the
    * scored companion to [[editDistancePairs]] for name/title matching
    * where the linkage literature wants a 0..1 front-weighted score
    * (Winkler 1990), not a hard edit budget: "Jon Smith" vs "John
    * Smith" should OUTRANK "Jon Smith" vs "Ron Smith" even though both
    * are one edit. Returns `(id_a, id_b, jw)` for every pair scoring
    * ≥ `threshold` that shares at least one character q-gram, `jw`
    * rounded to 6 dp for output (the filter runs on the unrounded
    * value — [[JaroWinkler]] is arithmetic-pinned to the cross-engine
    * standard, so both sides of an oracle compute identical doubles).
    *
    * Blocking: the same q-gram equi-join + `maxDf` hub cap as
    * [[editDistancePairs]] (shared grams are a RECALL HEURISTIC here —
    * JW has no gram-count lemma; pairs with no common q-gram are
    * missed by design), plus a PROVABLE length-ratio prefilter: with
    * m ≤ min(|a|,|b|) and the boost capped at ℓ=4,
    * jw ≤ 0.6·(2 + min/max)/3 + 0.4, so jw ≥ θ forces
    * min/max ≥ 5θ − 4 — at θ = 0.9 a 2:1 length mismatch can never
    * reach the threshold and is cut before the candidate `distinct`.
    *
    * Scale shape: identical to [[editDistancePairs]] — the gram
    * explode carries (id, len) only; candidate pairs collapse through
    * one hash agg before the strings are fetched; the JW verify is a
    * codegen'd row-local kernel on candidate pairs only.
    */
  def jaroWinklerPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, q: Int = 3, maxDf: Long = 1000L,
      broadcastOverCap: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    require(q >= 1, s"q must be >= 1 (got $q)")
    val base = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(col("txt").isNotNull)
      .withColumn("len", length(col("txt")))
    val grams0 = base.select(col("id"), col("len"),
      explode(charGrams(col("txt"), q)).as("g"))
    val overCap0 = grams0.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("g"))
    val overCap = if (broadcastOverCap) broadcast(overCap0) else overCap0
    val grams = grams0.join(overCap, Seq("g"), "left_anti")
    val a = grams.select(col("id").as("id_a"), col("len").as("len_a"), col("g"))
    val b = grams.select(col("id").as("id_b"), col("len").as("len_b"), col("g"))
    val minRatio = 5.0 * threshold - 4.0
    val cand = a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        (if (minRatio > 0.0)
          least(col("len_a"), col("len_b")).cast("double") /
            greatest(col("len_a"), col("len_b")) >= minRatio
        else lit(true)))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("txt").as("_ta")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("txt").as("_tb")), Seq("id_b"))
      .withColumn("_jw", JaroWinkler(col("_ta"), col("_tb")))
      .filter(col("_jw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("_jw"), 6).as("jw"))
  }

  /** Cross-split leakage report — the eval-hygiene check a training
    * pipeline runs AFTER splitting: every near-duplicate pair whose two
    * members landed in DIFFERENT splits (a test document with a
    * train-side near-copy makes the eval score a lie). `pairs` is any
    * scored pair frame (`jaccardPairs`, `minhashLshPairs`,
    * `editDistancePairs`, embedding LSH — columns `id_a`, `id_b` plus
    * whatever score it carries); `splits` maps ids to split labels.
    * Returns the straddling pairs with both labels attached — empty is
    * the passing grade. The leakage-SAFE split for new corpora is
    * [[graft.functions.SamplingFunctions]]' grouped split (d11); this
    * report is for auditing splits you didn't control.
    *
    * Scale shape: two equi-joins of the (bounded-by-construction) pair
    * frame against the split table, then a row-local filter — the pair
    * frame is the small side; broadcast it when tiny, AQE picks
    * otherwise. Nothing corpus-sized shuffles beyond the split-table
    * scans.
    */
  def crossSplitLeakage(pairs: DataFrame, splits: DataFrame,
      idCol: String = "doc_id", splitCol: String = "split"): DataFrame = {
    val a = splits.select(col(idCol).as("id_a"), col(splitCol).as("split_a"))
    val b = splits.select(col(idCol).as("id_b"), col(splitCol).as("split_b"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select((pairs.columns.map(col) :+ col("split_a") :+ col("split_b"))
        .toIndexedSeq: _*)
  }

  /** C4-style cross-document duplicate-LINE removal (Raffel et al.,
    * JMLR 2020 §2.2 discards repeated three-sentence spans; line
    * granularity is the CCNet/RefinedWeb variant): any line whose
    * TRIMMED form occurs at more than one (doc, position) keeps only
    * its first occurrence — lowest (id, position) — and every other
    * copy is cut out of its document in place; surrounding lines stay,
    * order intact. Boilerplate (nav bars, cookie banners, licence
    * footers) dies line-by-line without dropping whole documents.
    *
    * Lines whose trimmed form is shorter than `minChars` are exempt
    * (kept everywhere): deduping "" or "---" across a corpus would
    * shred formatting. Matching keys on the trimmed line; the kept
    * output preserves the original untrimmed line. Documents whose
    * every line is removed come back with empty text (never dropped);
    * NULL text passes through as null.
    *
    * Scale shape: one explode to (id, pos, line) rows; the keeper per
    * distinct line value is ONE `min(struct(id, pos))` hash
    * aggregation — map-side partials collapse a million-copy cookie
    * banner to one candidate per task BEFORE the shuffle (the
    * [[dedupExact]] argument) — and the join back to occurrences
    * carries exactly one build row per line value, so AQE's skew split
    * handles crawl-scale hot lines on the probe side. Reassembly
    * collects each document's OWN surviving lines (bounded by document
    * size, the [[TextFunctions.chunkDocuments]] contract) — never a
    * corpus-wide window or sort.
    */
  def removeDuplicateLines(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minChars: Int = 10): DataFrame = {
    require(minChars >= 0, s"minChars must be >= 0 (got $minChars)")
    val used = docs.columns.toSet
    val pos = graft.ops.ColNames.fresh(used, "_rdl_pos")
    val line = graft.ops.ColNames.fresh(used, "_rdl_line")
    val key = graft.ops.ColNames.fresh(used, "_rdl_key")
    val keeper = graft.ops.ColNames.fresh(used, "_rdl_keeper")
    val newText = graft.ops.ColNames.fresh(used, "_rdl_text")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1)).as(Seq(pos, line)))
      .withColumn(key, trim(col(line)))
    // one row per distinct eligible line value: its first occurrence.
    // KthSmallest(·, 1) (the library's bounded-heap aggregate), NOT
    // min/min_by over the struct: both declarative forms carry a
    // struct-typed buffer, which Spark can only plan as a
    // SortAggregate — a per-partition sort of the whole exploded
    // corpus — while the TypedImperativeAggregate plans as an
    // ObjectHashAggregate: one candidate per line value per map task,
    // no sort anywhere (plan-pinned by the spec).
    val keep = lines.filter(length(col(key)) >= minChars)
      .groupBy(col(key))
      .agg(KthSmallest(struct(col(idCol), col(pos)), 1).as(keeper))
    val kept = lines.join(keep, Seq(key), "left")
      .filter(col(keeper).isNull || // short-line exemption (never in `keep`)
        (col(keeper).getField(idCol) === col(idCol) &&
          col(keeper).getField(pos) === col(pos)))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col(pos), col(line)))),
        x => x.getField(line)), "\n").as(newText))
    // null text stays null (visible-null rule): only a NON-null document
    // whose every line was dropped collapses to the empty string.
    docs.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, when(col(textCol).isNull, col(textCol))
        .otherwise(coalesce(col(newText), lit(""))))
      .drop(newText)
      .select(docs.columns.map(col).toIndexedSeq: _*) // original column order
  }

  /** Exact duplicated-SPAN removal (Lee et al., ACL 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): any run of `k` consecutive whitespace tokens that
    * occurs at more than one (doc, position) keeps only its first
    * occurrence — lowest (id, position) — and every other occurrence's
    * k tokens are cut out of their document in place. Catches the
    * copy-paste duplication LINE granularity misses (quotes, templated
    * paragraphs re-wrapped across line breaks) and within-document
    * repetition (the same occurrence rule applies intra-doc). Lee et
    * al. use suffix arrays over the byte stream; the Spark-native
    * shape is k-gram occurrence tables — same duplicated-span
    * semantics at token granularity, expressible as joins/aggregations
    * instead of a monolithic global index build.
    *
    * Contract: tokens are `\s+` splits of the trimmed text, so output
    * text comes back WHITESPACE-NORMALIZED (surviving tokens joined by
    * single spaces — at span granularity original inter-token
    * whitespace is not meaningful). Documents with fewer than `k`
    * tokens have no spans and pass through (normalized); a document
    * whose every token is cut comes back with empty text (never
    * dropped); NULL text passes through as null. Overlapping
    * duplicated spans merge naturally (token-index union). `hash`
    * fingerprints the k-gram string for the shuffle key — 16-byte keys
    * move, never token arrays ([[md5Hash60]] for external replay; a
    * colliding pair would conflate two distinct grams, the standard
    * fingerprint-dedup trade).
    *
    * Scale shape: one explode to O(tokens) gram rows; duplicated grams
    * and their keepers come from ONE hash aggregation per gram key —
    * `count` plus [[KthSmallest]](struct(id, pos), 1), the bounded-heap
    * TypedImperativeAggregate, so map-side partials collapse a
    * million-copy boilerplate gram to one candidate per task before the
    * shuffle and the whole thing plans as ObjectHashAggregate (never a
    * per-partition SortAggregate). The join back to occurrences carries
    * one build row per DUPLICATED gram; cut-token indexes explode only
    * from marked occurrences (≤ k rows each). Reassembly collects each
    * document's own surviving tokens — bounded by document length,
    * never a corpus-wide sort.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 10,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    val used = docs.columns.toSet
    val pos = graft.ops.ColNames.fresh(used, "_rds_pos")
    val tok = graft.ops.ColNames.fresh(used, "_rds_tok")
    val key = graft.ops.ColNames.fresh(used, "_rds_key")
    val cnt = graft.ops.ColNames.fresh(used, "_rds_cnt")
    val keeper = graft.ops.ColNames.fresh(used, "_rds_keeper")
    val cut = graft.ops.ColNames.fresh(used, "_rds_cut")
    val newText = graft.ops.ColNames.fresh(used, "_rds_text")
    val toks = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq(pos, tok)))
    // gram occurrences: (id, startPos, hash of the k-token string).
    // Built from the token ARRAY bound once per row (not the exploded
    // rows — a self-join to reassemble grams would shuffle tokens).
    val grams = docs.select(col(idCol),
      TextFunctions.bound(split(trim(col(textCol)), "\\s+")) { tk =>
        val n = size(tk) - (k - 1)
        when(n <= 0, array().cast("array<struct<p:int,h:bigint>>"))
          .otherwise(transform(sequence(lit(0), n - 1),
            i => struct(i.cast("int").as("p"),
              hash(concat_ws(" ", slice(tk, i + 1, lit(k)))).as("h"))))
      }.as("_g"))
      .select(col(idCol), explode(col("_g")).as("_g"))
      .select(col(idCol), col("_g.p").as(pos), col("_g.h").as(key))
    // one aggregation per gram key: occurrence count + first occurrence
    val dup = grams.groupBy(col(key)).agg(
        count(lit(1)).as(cnt),
        KthSmallest(struct(col(idCol), col(pos)), 1).as(keeper))
      .filter(col(cnt) > 1)
      .select(col(key), col(keeper))
    // non-keeper occurrences of duplicated grams → cut token indexes.
    // The cut-side id gets its OWN column name: toks and cuts share the
    // docs lineage, so joining on `col(idCol) === col(idCol)` would
    // resolve both sides to one attribute (a trivially-true predicate).
    val cutId = graft.ops.ColNames.fresh(used, "_rds_cut_id")
    val cuts = grams.join(dup, Seq(key))
      .filter(!(col(keeper).getField(idCol) === col(idCol) &&
        col(keeper).getField(pos) === col(pos)))
      .select(col(idCol).as(cutId),
        explode(sequence(col(pos), col(pos) + (k - 1))).as(cut))
      .distinct()
    val kept = toks.join(cuts,
      col(idCol) === col(cutId) && col(pos) === col(cut), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col(pos), col(tok)))),
        x => x.getField(tok)), " ").as(newText))
    // null text stays null (visible-null rule); a doc losing every
    // token collapses to "" — and an all-whitespace doc normalizes to
    // "" via its single empty token, same as trim-join semantics.
    docs.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, when(col(textCol).isNull, col(textCol))
        .otherwise(coalesce(col(newText), lit(""))))
      .drop(newText)
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** Build a Bloom filter over a (fingerprint) column — the stored
    * membership sketch that lets incremental ingest prove most batch
    * rows ABSENT from the corpus without touching the fingerprint
    * index at all ([[graft.functions.BloomMightContain]] is the probe
    * side). Values insert by `putString` (UTF-8 bytes), matching the
    * probe's `mightContainBinary`; nulls are skipped (a null
    * fingerprint row can't be a duplicate of anything).
    *
    * `expectedItems`/`fpp` fix the filter GEOMETRY: every filter built
    * with the same knobs merges via `mergeInPlace`, which is what lets
    * per-batch filters accumulate into one corpus-wide sketch — so
    * size `expectedItems` for the CORPUS the filters will accumulate
    * into, not for one batch (a per-batch filter is just a sparse
    * corpus-sized one). One aggregation sized by `df`, combined
    * tree-wise; the result lives on the driver (n·ln(1/fpp)/ln²2 bits
    * ≈ 7.3 bits/item at 3% — ~0.9 GB per billion fingerprints, the
    * documented cost of skipping a nightly multi-TB index scan).
    */
  def fingerprintBloom(df: DataFrame, fpCol: String, expectedItems: Long,
      fpp: Double = 0.03): org.apache.spark.util.sketch.BloomFilter = {
    require(expectedItems >= 1, s"expectedItems must be >= 1 (got $expectedItems)")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1) (got $fpp)")
    import org.apache.spark.sql.Encoders
    df.select(col(fpCol).cast("string")).na.drop()
      .as[String](Encoders.STRING).rdd
      .treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp))(
        (bf, s) => { bf.putString(s); bf },
        (a, b) => { a.mergeInPlace(b); a })
  }

  /** n-gram Jaccard candidate pairs: explode distinct shingles, self-join
    * on the shingle (ids ordered to halve the pairs), count shared
    * shingles, compute exact Jaccard = |∩| / (|A|+|B|−|∩|), keep pairs ≥
    * threshold. The shuffle key is the shingle hash, so hot shingles are
    * the skew risk — `spark.sql.adaptive.skewJoin` handles the head, and
    * a document-frequency cap (drop shingles appearing in > maxDf docs)
    * removes boilerplate n-grams that would otherwise generate O(df²)
    * candidate pairs.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxDf: Long = 1000L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      broadcastOverCap: Boolean = true): DataFrame = {
    // pinned for the same reason as in [[minhashLshPairs]]: the shingle
    // frame feeds the df-count branch AND the candidate join's two
    // sides — unpinned, the corpus re-tokenizes per consumer
    val sh0 = df.select(col(idCol).as("id"),
        wordShingles(col(textCol), n).as("shingles"))
      .withColumn("n_sh", size(col("shingles")).cast("long"))
    val sh = graft.Caches.trackedPersist(sh0, storage)
    val exploded = sh.select(col("id"), col("n_sh"), explode(col("shingles")).as("sh"))
    // df-cap WITHOUT a shingle-partitioned window (a boilerplate shingle
    // with huge df is exactly the row pile that would single-task): the
    // document frequencies reduce through a map-side-combined count, and
    // the OVER-cap set — boilerplate n-grams, tiny among distinct
    // shingles by construction (at most total-occurrences/maxDf of
    // them) — anti-joins back as a broadcast, so the cap applies
    // map-side and the exploded rows are never shuffled for it. Pass
    // `broadcastOverCap = false` for the shuffled anti-join when the
    // cap is set adversarially low.
    val overCap0 = exploded.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sh"))
    val overCap = if (broadcastOverCap) broadcast(overCap0) else overCap0
    val filtered = exploded.join(overCap, Seq("sh"), "left_anti")
    val a = filtered.select(col("id").as("id_a"), col("n_sh").as("n_a"), col("sh"))
    val b = filtered.select(col("id").as("id_b"), col("n_sh").as("n_b"), col("sh"))
    a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered exact set-similarity self-join (the All-Pairs /
    * PPJoin family: Chaudhuri et al., ICDE 2006; Bayardo et al., WWW
    * 2007; Xiao et al., WWW 2008) — the COMPLETE answer to "all pairs
    * with n-gram Jaccard ≥ t", with neither [[jaccardPairs]]'s lossy
    * df-cap nor its every-occurrence candidate join. Each shingle gets a
    * global canonical order (document frequency ASC, shingle ASC —
    * rarest first); each document emits only its PREFIX — the first
    * |d| − ⌈t·|d|⌉ + 1 shingles in that order — into the candidate
    * join. Prefix-filter lemma: J(A,B) ≥ t forces overlap
    * o ≥ ⌈t·max(|A|,|B|)⌉, so the first shared shingle in canonical
    * order must sit inside BOTH prefixes (each suffix holds only
    * ⌈t·|d|⌉ − 1 < o shingles) — the prefix join loses nothing.
    * Candidates then pass the length filter min ≥ t·max (J ≤ min/max)
    * and verify EXACT Jaccard on the full shingle arrays; prefixes only
    * prune, never decide.
    *
    * Scale shape — this inverts the skew profile of the naive shingle
    * join: boilerplate shingles have the HIGHEST df, so the canonical
    * order puts them LAST and they almost never enter a prefix. The
    * candidate join therefore runs over rare shingles with tiny per-key
    * row piles — no df-cap (which silently drops true pairs) and no
    * salting needed. Shuffles: one df-count aggregation (map-side
    * partials), one shingle-keyed rank join (shuffled — broadcasting
    * crawl-scale vocab would pin it on the driver, the r5 rule), the
    * prefix self-join, and two id-keyed verify joins on candidates
    * only. The per-document sort-and-slice is array-local and
    * document-bounded (the d15/r5 convention). Both engines' IEEE
    * t·|d| product is nudged by −1e-9 before ⌈⌉ so a binary-fraction
    * overshoot (0.8·5 = 4.000000000000000222) can only make the prefix
    * LONGER than the lemma needs — completeness-safe and cross-engine
    * identical.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    // pinned: the shingle frame feeds the df-count branch, the prefix
    // build AND both verify sides — unpinned, the corpus re-tokenizes
    // once per consumer
    val sh0 = df.select(col(idCol).as("id"),
        wordShingles(col(textCol), n).as("shingles"))
      .withColumn("n_sh", size(col("shingles")).cast("long"))
    val sh = graft.Caches.trackedPersist(sh0, storage)
    val e = sh.select(col("id"), col("n_sh"), explode(col("shingles")).as("sh"))
    val dfc = e.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
    val ranked = e.join(dfc, Seq("sh"))
    // canonical order materializes per document as one array sort over
    // (df, shingle) structs; the prefix is a slice — no window, no
    // per-document shuffle beyond the groupBy
    val pre = ranked.groupBy(col("id"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("_df").as("d"), col("sh").as("s"))))
        .as("_sorted"))
      .withColumn("_p",
        (col("n_sh") - ceil(lit(threshold) * col("n_sh").cast("double") - lit(1e-9))
          + lit(1L)).cast("int"))
      .select(col("id"), col("n_sh"),
        explode(transform(slice(col("_sorted"), lit(1), col("_p")),
          x => x.getField("s"))).as("sh"))
    val a = pre.select(col("id").as("id_a"), col("n_sh").as("n_a"), col("sh"))
    val b = pre.select(col("id").as("id_b"), col("n_sh").as("n_b"), col("sh"))
    val cand = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")).cast("double") - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
    val va = sh.select(col("id").as("id_a"), col("shingles").as("_sa"), col("n_sh").as("n_a"))
    val vb = sh.select(col("id").as("id_b"), col("shingles").as("_sb"), col("n_sh").as("n_b"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("_shared", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("jaccard", col("_shared").cast("double") /
        (col("n_a") + col("n_b") - col("_shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Test-set decontamination: per training document, the number of
    * distinct word n-grams it shares with ANY held-out/benchmark
    * document (reference has no equivalent; this is the standard
    * train/eval-overlap audit an LLM corpus needs before training).
    * Returns `(idCol, n_shared_grams)` for contaminated docs only —
    * join back left-anti to drop them, or inspect the counts to set a
    * threshold.
    *
    * Scale shape: the held-out side is a benchmark suite — tiny next to
    * a 100 TB corpus — so its distinct gram set is BROADCAST
    * (`broadcastTest=true`, the default) and the train-side explode
    * joins map-side with NO shuffle of the corpus at all; the only
    * shuffle is the per-doc count aggregation, which carries (id, gram)
    * survivors. With a large held-out side, pass `broadcastTest=false`
    * for a plain hash join on the gram. Grams are matched as strings —
    * at extreme scale swap in `xxhash64(g)` join keys (64-bit shuffle
    * rows, ~2⁻⁶⁴ false-positive rate); kept exact here so external
    * engines can replay the audit verbatim.
    */
  def contaminationReport(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int = 13, broadcastTest: Boolean = true): DataFrame = {
    val trainGrams = train.select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("g"))
    val testGrams0 = test.select(explode(wordShingles(col(textCol), n)).as("g")).distinct()
    val testGrams = if (broadcastTest) broadcast(testGrams0) else testGrams0
    trainGrams.join(testGrams, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** MinHash signature: k hash functions simulated as
    * `xxhash64(shingle, seed_i)`, signature[i] = min over shingles.
    * Computed with array exprs — no UDF, no extra shuffle; one projection.
    * Prefer [[minhashSignatures]] at scale (vectorized hash-agg shape).
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingles, s => xxhash64(s, lit(i))))): _*)

  /** MinHash signatures as a DataFrame op: explode shingles once, take k
    * `min` aggregates per doc in ONE whole-stage-codegen hash aggregation
    * with map-side partials — the shuffle carries one k-counter row per
    * doc. Identical signature values to [[minhashSignature]]; 2-4×
    * faster because the k hash evaluations per shingle run vectorized
    * instead of as k array-lambda passes.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int,
      hash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i))): DataFrame =
    minhashSignaturesFromShingles(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("shingles")),
      k, hash)

  /** [[minhashSignatures]] over a pre-computed `(id, shingles)` frame —
    * lets a caller that also needs the shingles for verification (e.g.
    * [[minhashLshPairs]]) shingle the corpus ONCE and share the frame
    * across DAG branches instead of re-tokenizing the raw text per branch.
    */
  def minhashSignaturesFromShingles(sh: DataFrame, k: Int,
      hash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i))): DataFrame = {
    val e = sh.select(col("id"), explode(col("shingles")).as("s"))
    val mins = (0 until k).map(i => min(hash(col("s"), i)).as(s"_m$i"))
    e.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** 60-bit hash both Spark and DuckDB can compute identically:
    * the first 15 hex chars of md5, parsed as an integer — i.e.
    * `conv(substring(md5(c), 1, 15), 16, 10)`, which DuckDB oracles
    * replay verbatim. Slower than xxhash64 — exists so hash-dependent
    * pipelines (MinHash-LSH) can be oracle-verified end-to-end;
    * production paths keep xxhash64. Since r15 the Spark side computes
    * it through the fused native [[Md5Prefix60]] (bit-identical by
    * construction and by property spec; the hex/conv expression chain
    * allocated five transients per call on the MinHash hot path).
    */
  def md5Hash60(c: Column): Column =
    Md5Prefix60(c.cast("binary"))

  /** LSH banding: band b = hash of signature rows [b·r, (b+1)·r). Docs
    * sharing any (band, bucket) become candidates.
    */
  def lshBands(sig: Column, bands: Int, rows: Int,
      bucketHash: (Column, Int) => Column = (c, b) => xxhash64(c, lit(b))): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        bucketHash(concat_ws(",", slice(sig, b * rows + 1, rows)), b).as("bucket"))): _*)

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    * Pipeline: shingle → signature → band explode → equi-self-join on
    * (band,bucket) → distinct candidate pairs → verify true Jaccard via
    * shingle intersection. Only candidates pay the verification cost.
    *
    * The `(id, shingles)` frame feeds BOTH the signature branch and the
    * verification joins, so it is persisted at `storage` (pass
    * `StorageLevel.NONE` to disable) — without it the corpus is
    * re-scanned and re-tokenized at verify time. At 100 TB the cached
    * frame is the shingle arrays (≈ the corpus size): the caller picks
    * the level (e.g. DISK_ONLY) or pre-materializes shingles to a table.
    *
    * `hotBucketThreshold` arms the skew defense for the candidate
    * self-join ([[graft.ops.SkewOps.selfPairJoin]]): a boilerplate
    * (band, bucket) with n members is an n²-pair same-key group no AQE
    * split can break; past the threshold its pairs are generated through
    * a salted join across `salts` tasks instead of one. The default
    * (`Long.MaxValue`) keeps today's plain-join plan; the corpus
    * pipeline arms it.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7,
      hash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i)),
      bucketHash: (Column, Int) => Column = (c, b) => xxhash64(c, lit(b)),
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      hotBucketThreshold: Long = Long.MaxValue, salts: Int = 16): DataFrame = {
    val rows = numHashes / bands
    val sh = df.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("shingles"))
    graft.Caches.trackedPersist(sh, storage)
    val sigs = minhashSignaturesFromShingles(sh, numHashes, hash)
    val banded = sigs.select(col("id"),
        explode(lshBands(col("sig"), bands, rows, bucketHash)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cands = graft.ops.SkewOps
      .selfPairJoin(banded, Seq("band", "bucket"), "id", hotBucketThreshold, salts)
      .distinct()
    cands
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Banded MinHash signatures of an `(id, shingles)` frame as the flat
    * `(id, band, bucket)` table — the MATERIALIZABLE form of the LSH
    * candidate key: one signature aggregation (map-side partials, the
    * [[minhashSignaturesFromShingles]] shape) plus a `bands`-way explode.
    * This is the table an incremental corpus stores alongside its
    * shingles (`bands` rows per doc — a few longs, tiny next to the
    * shingle arrays) so that [[minhashLshPairsAgainstIndexed]] can
    * generate candidates with NO aggregation over corpus state: the
    * signatures are computed exactly once, at each document's own
    * accept time.
    */
  def bandedSignatures(sh: DataFrame, numHashes: Int = 32, bands: Int = 8,
      hash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i)),
      bucketHash: (Column, Int) => Column = (c, b) => xxhash64(c, lit(b))): DataFrame = {
    val rows = numHashes / bands
    minhashSignaturesFromShingles(sh, numHashes, hash)
      .select(col("id"),
        explode(lshBands(col("sig"), bands, rows, bucketHash)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** [[minhashLshPairsAgainst]] driven by a STORED band table — the
    * steady-state nightly shape: the corpus side contributes its
    * materialized `(id, band, bucket)` table (built by
    * [[bandedSignatures]] at each batch's accept time) and its stored
    * `(id, shingles)` table; NOTHING on the corpus side is aggregated —
    * the corpus pays no signature recompute, no explode, no shuffle.
    * Candidates come from an equi-join of the stored bands against the
    * batch's (freshly signatured) bands; verification reads corpus
    * shingles only for candidate ids. Same output contract as
    * [[minhashLshPairsAgainst]]: `(id_a, id_b, jaccard)`, `id_a` from
    * the corpus, `id_b` from the batch.
    *
    * Scale shape: with `broadcastBatchSide` (default), the batch band
    * table broadcasts into the candidate join — the stored band table
    * streams map-side, never shuffles — and the candidate-pair set
    * (batch-bounded) broadcasts into the corpus-shingle verify join, so
    * the corpus shingle table is SCANNED once but never shuffled or
    * aggregated. Pass `false` for plain hash joins when a batch is too
    * large to broadcast.
    */
  def minhashLshPairsAgainstIndexed(existingBands: DataFrame,
      existingShingles: DataFrame, incoming: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.7,
      hash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i)),
      bucketHash: (Column, Int) => Column = (c, b) => xxhash64(c, lit(b)),
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      broadcastBatchSide: Boolean = true): DataFrame = {
    // the batch shingle frame feeds its signature branch AND the verify
    // join; pinned like every multi-consumer frame here
    val shB = incoming.select(col("id"), col("shingles"))
    graft.Caches.trackedPersist(shB, storage)
    val batchBands0 = bandedSignatures(shB, numHashes, bands, hash, bucketHash)
    val batchBands = if (broadcastBatchSide) broadcast(batchBands0) else batchBands0
    val cands0 = existingBands.as("x").join(batchBands.as("y"), Seq("band", "bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val cands = if (broadcastBatchSide) broadcast(cands0) else cands0
    existingShingles.select(col("id").as("id_a"), col("shingles").as("sh_a"))
      .join(cands, Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-corpus MinHash-LSH near-duplicate pairs — the INCREMENTAL
    * ingestion shape: a new batch checks against the already-ingested
    * corpus without the existing×existing self-join ever running. Both
    * sides arrive as `(id, shingles)` frames (shingle the batch with
    * [[wordShingles]]; at scale the EXISTING side is a materialized
    * shingle/signature table maintained at append time, so 100 TB of
    * history is never re-tokenized per batch). Candidates come from a
    * banded equi-join BETWEEN the two sides' band tables — each side
    * signatures/bands independently, identical parameters required —
    * then true Jaccard verifies on candidates only. Returns
    * `(id_a, id_b, jaccard)` with `id_a` from `existing` and `id_b`
    * from `incoming` (so [[dropNearDuplicates]] on the BATCH composes
    * directly: the incoming copy of an existing doc always drops,
    * regardless of id ordering). Pairs WITHIN the batch are not
    * emitted — run [[minhashLshPairs]] on the batch for those; the
    * two pair sets union.
    *
    * Scale shape: both shingle frames are pinned at `storage` (each
    * feeds its signature branch and the verify join); the candidate
    * join is hash-partitioned on (band, bucket) — the incoming side is
    * batch-sized, so at realistic scales Catalyst broadcasts it.
    */
  def minhashLshPairsAgainst(existing: DataFrame, incoming: DataFrame,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7,
      hash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i)),
      bucketHash: (Column, Int) => Column = (c, b) => xxhash64(c, lit(b)),
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    def prep(df: DataFrame): DataFrame = {
      val sh = df.select(col("id"), col("shingles"))
      graft.Caches.trackedPersist(sh, storage)
      sh
    }
    def banded(sh: DataFrame): DataFrame =
      bandedSignatures(sh, numHashes, bands, hash, bucketHash)
    val shA = prep(existing)
    val shB = prep(incoming)
    val cands = banded(shA).as("x").join(banded(shB).as("y"), Seq("band", "bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    cands
      .join(shA.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-duplicate DEDUP from a candidate pair set (ids ordered
    * `id_a < id_b` as every pair generator here emits): drop a row iff
    * some pair names it as the HIGHER id — the greedy smallest-id-
    * canonical rule. One left-anti join on the id; composes with
    * [[jaccardPairs]], [[minhashLshPairs]], [[simhashPairs]] or
    * [[SimilarityFunctions.lshNeighborPairs]] (embedding-cosine
    * near-dup). Not a transitive closure: B dropped for resembling A
    * does not itself drop C unless (B',C) or (A,C) is a pair — the
    * standard one-pass training-data dedup behavior.
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over an undirected pair list: every node gets
    * `component` = the MINIMUM id reachable from it. This is the
    * transitive closure [[dropNearDuplicates]] deliberately skips — when
    * near-dup chains matter (A~B, B~C ⇒ {A,B,C} is ONE duplicate
    * cluster even though (A,C) was never a candidate pair), cluster
    * first, then keep one canonical row per cluster.
    *
    * Algorithm (distributed path): alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014). Each alternation re-points edges at
    * neighborhood minima — large-star links every LARGER neighbor of u
    * to min(Γ(u) ∪ {u}); small-star links the smaller neighbors and u
    * itself there — and the edge set converges to disjoint stars
    * rooted at each component's minimum id in O(log²) alternations,
    * INDEPENDENT of graph diameter. That independence is the 100 TB
    * property: a chained crawl graph (diameter ≫ 25) would exhaust any
    * per-round budget under plain min-label propagation (O(diameter)
    * rounds), and re-running a 100 TB clustering is expensive; star
    * rounds are a small constant for any physical graph. Each round's
    * edge frame is `localCheckpoint`ed (flat lineage), superseded
    * frames release eagerly, and the loop throws after `maxIter`
    * non-converged alternations rather than returning a partial
    * labeling. Degenerate self-pairs (a,a) are ignored on every path —
    * a node must have a real neighbor to be "in pairs".
    *
    * Only nodes that appear in `pairs` are returned — callers union in
    * their untouched rows (see [[dropNearDuplicateClusters]], where
    * untouched docs survive automatically).
    *
    * Small-graph gate: the iterative rounds carry a per-round fixed cost
    * (shuffled joins + aggregations + checkpoints) that dwarfs the
    * data cost when the verified pair set is small — the COMMON case for
    * a well-tuned near-dup threshold (a clean corpus yields a handful of
    * edges; c4's sf0.1 run has exactly one). So: zero edges returns the
    * empty labeling with NO rounds, and an edge count at or under
    * `driverThreshold` (undirected deduped edges; default 1M ≈ 16 MB —
    * the same bounded-collect budget the IVF centroids already accept)
    * is solved by union-find on the driver in one collect. Past the
    * threshold the distributed contraction runs; the label semantics
    * (min reachable id) are identical on every path, and the count
    * itself rides the edge frame the loop would persist anyway.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      driverThreshold: Long = 1000000L): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1 (got $maxIter)")
    require(driverThreshold >= 0, s"driverThreshold must be >= 0 (got $driverThreshold)")
    val edges = pairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      // a null endpoint would mint a phantom label row that joins
      // nothing and never converges meaningfully — drop it loudly at
      // the boundary, along with degenerate self-pairs
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      // canonical (hi > lo) orientation: star rounds and the
      // convergence equality both want ONE row per undirected edge
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // each round's edge snapshot is localCheckpoint'd (flat lineage) and
    // the SUPERSEDED round's blocks are released eagerly — otherwise up
    // to maxIter full snapshots pile up in executor storage until
    // driver GC. Release handles come from the checkpointed frame's own
    // plan (see [[graft.internal.Checkpoints]]), never a registry diff.
    import graft.internal.Checkpoints.localCheckpointTracked
    try {
      val nEdges = edges.count()
      if (nEdges == 0L) {
        // no pairs → no labeled nodes. A LOCAL empty relation, not a
        // projection over `edges`: the edge frame's lineage is the whole
        // upstream pair pipeline, which a consumer would re-execute once
        // the finally block drops the blocks.
        val spark = pairs.sparkSession
        import spark.implicits._
        return Seq.empty[(Long, Long)].toDF("id", "component")
      }
      if (nEdges <= driverThreshold) return driverUnionFind(edges)
      // symmetrized neighbor view and per-node neighborhood minimum —
      // the min is one map-side-combined aggregation, never a window
      def sym(e: DataFrame): DataFrame =
        e.select(col("hi").as("u"), col("lo").as("v"))
          .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      def mins(s: DataFrame): DataFrame =
        s.groupBy(col("u")).agg(least(col("u"), min(col("v"))).as("m"))
      // large-star: every neighbor ABOVE u re-points at u's minimum.
      // v > u ≥ m, so (v, m) is already (hi, lo)-oriented and never a
      // self-loop.
      def largeStar(e: DataFrame): DataFrame = {
        val s = sym(e)
        s.join(mins(s), Seq("u")).filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo")).distinct()
      }
      // small-star: the neighbors at or below u, and u itself,
      // re-point at u's minimum (m ≤ v ≤ u throughout; v = m rows are
      // the self-loops and drop).
      def smallStar(e: DataFrame): DataFrame = {
        val s = sym(e)
        val mm = mins(s)
        s.join(mm, Seq("u")).filter(col("v") < col("u"))
          .select(col("v").as("n"), col("m"))
          .unionByName(mm.select(col("u").as("n"), col("m")))
          .filter(col("n") =!= col("m"))
          .select(col("n").as("hi"), col("m").as("lo")).distinct()
      }
      var cur = edges
      var releaseCur: () => Unit = () => () // `edges` released in finally
      var curCount = nEdges
      var iter = 0
      while (iter < maxIter) {
        // checkpoint between the two half-rounds: small-star consumes
        // its input four ways (two sym legs, the min aggregation, the
        // join) — uncheckpointed, large-star's join+agg+distinct would
        // re-execute per consumer
        val (l, releaseL) = localCheckpointTracked(largeStar(cur))
        val (next, releaseNext) = localCheckpointTracked(smallStar(l))
        releaseL()
        val nextCount = next.count()
        // exact set equality (both sides canonical + distinct): equal
        // cardinality plus an empty one-sided anti-join
        val converged = nextCount == curCount &&
          next.join(cur, Seq("hi", "lo"), "left_anti").isEmpty
        releaseCur()
        cur = next; releaseCur = releaseNext; curCount = nextCount
        iter += 1
        if (converged)
          // fixed point: disjoint stars, each rooted at its component's
          // minimum id (the returned frame keeps its blocks)
          return cur.select(col("hi").as("id"), col("lo").as("component"))
            .unionByName(
              cur.select(col("lo").as("id"), col("lo").as("component")).distinct())
      }
      releaseCur()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds — " +
          "raise maxIter (each round is one large-star + one small-star)")
    } finally {
      edges.unpersist()
      ()
    }
  }

  /** Driver-side union-find over a bounded COLLECTED edge list (one
    * canonical row per undirected edge) — the small-graph arm of
    * [[connectedComponents]]. Union attaches the larger root under the
    * smaller, so each tree's root is its component's minimum id — the
    * same label the distributed contraction converges to; `find`
    * path-compresses, keeping the whole pass effectively linear.
    *
    * Edges collect as PRIMITIVE tuples (the typed Dataset path), not
    * Rows — at the 1M-edge default threshold that is ~16 MB of longs
    * in boxed pairs rather than ~100+ bytes per GenericRow, keeping
    * the driver footprint inside the documented bounded-collect budget
    * (tens of MB, the IVF-centroid precedent).
    */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    val session = edges.sparkSession
    import session.implicits._
    edges.select(col("hi"), col("lo")).as[(Long, Long)].collect().foreach { case (s, d) =>
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val rs = find(s); val rd = find(d)
      if (rs < rd) parent.put(rd, rs)
      else if (rd < rs) parent.put(rs, rd)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(id => (id, find(id)))
      .toDF("id", "component")
  }

  /** Cluster-aware near-dup dedup: connected-components over the pairs,
    * then keep each cluster's minimum-id row; rows in no pair survive
    * untouched. Unlike [[dropNearDuplicates]] the keep-set is closed
    * under chains: exactly one survivor per duplicate CLUSTER.
    */
  def dropNearDuplicateClusters(df: DataFrame, pairs: DataFrame,
      idCol: String, maxIter: Int = 25,
      driverThreshold: Long = 1000000L): DataFrame = {
    val doomed = connectedComponents(pairs, maxIter = maxIter,
        driverThreshold = driverThreshold)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** [[dropNearDuplicateClusters]] with a QUALITY keep rule: each
    * near-dup cluster keeps its highest-`scoreCol` member (smallest id
    * on ties) instead of its smallest-id member — the canonicalization
    * real pipelines want, because the min-id survivor of a
    * boilerplate cluster is an arbitrary crawl accident while the
    * max-quality one is the best rendering of the shared content.
    * Rows in no pair survive untouched.
    *
    * `scoreCol` casts to double; a null or NaN score ranks LAST (a row
    * without a usable score must never beat a scored one — the
    * normalization below, not raw struct ordering, which would rank a
    * null field first and crown the unscored row).
    *
    * Scale shape: clustering is [[connectedComponents]] (bounded star
    * rounds / driver union-find — never data-diameter); the score
    * attach is one equi-join of the PAIR-NODE set (not the corpus)
    * against `df`'s (id, score) projection; the per-cluster argmax is
    * one `min_by` hash aggregation (map-side partials carry a single
    * candidate per cluster per task); and the drop is the same
    * anti-join every dedup operator ends with.
    */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, maxIter: Int = 25,
      driverThreshold: Long = 1000000L): DataFrame = {
    val cc = connectedComponents(pairs, maxIter = maxIter,
      driverThreshold = driverThreshold)
    // rank key: smaller is better — negated score with null/NaN pushed
    // to +Inf (rank-last), id as the deterministic tiebreak
    val rank = struct(
      coalesce(nanvl(-col("_s"), lit(Double.PositiveInfinity)),
        lit(Double.PositiveInfinity)).as("ns"),
      col("id").as("tie"))
    // the scored node frame feeds both the argmax aggregation and the
    // join-back — pin it so clustering + the score attach execute once
    // (the library-wide multi-consumer rule; released when the
    // caller's Caches.scoped block closes)
    val scored = graft.Caches.trackedPersist(
      cc.join(
        df.select(col(idCol).as("id"), col(scoreCol).cast("double").as("_s")),
        Seq("id")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val doomed = scored
      .groupBy(col("component"))
      .agg(min_by(col("id"), rank).as("_keep"))
      .join(scored.select(col("id"), col("component")), Seq("component"))
      .filter(col("id") =!= col("_keep"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** SimHash (64-bit): per shingle hash, each bit votes ±1; signature bit
    * = sign of the vote sum. Single-pass: hash every shingle ONCE
    * (`transform`), then one `aggregate` carries a 64-long vote vector,
    * then one fold packs the sign bits. The naive form (64 independent
    * `aggregate` lambdas) re-hashes every shingle 64× and blows up the
    * generated code; this form is O(shingles) hashes + O(64·shingles)
    * bit-ops in ONE expression tree.
    */
  def simhash64(shingles: Column): Column = {
    val idx = sequence(lit(0), lit(63))
    val votes = aggregate(
      transform(shingles, s => xxhash64(s)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, idx, (a, j) =>
        a + when(call_function("shiftright", h, j).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(votes, idx, (v, j) =>
        when(v > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures as a DataFrame op: explode shingles → hash once →
    * vectorized hash-aggregate of 64 vote counters per doc → pack bits.
    * Same signature bits as [[simhash64]], different physical shape: the
    * per-row array-lambda version runs in one projection but allocates a
    * 64-long array per shingle step; this one is whole-stage-codegen
    * sums with MAP-SIDE partial aggregation — the shuffle carries one
    * 64-counter row per doc, not the shingles. Preferred at scale.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    val hashed = df
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("s"))
      .select(col("id"), hash(col("s")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"_v$j")
    }
    val packed = (0 until 64)
      .map(j => when(col(s"_v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    hashed.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("sig"))
  }

  /** SimHash near-dup pairs: block on 4×16-bit chunks (any pair within
    * Hamming distance 3 shares at least one intact chunk — pigeonhole),
    * then verify the true distance on candidates.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    val sigs = simhashSignatures(df, idCol, textCol, n, hash)
    val chunked = sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("cb"))
      .select(col("id"), col("sig"), col("cb.chunk").as("chunk"), col("cb.key").as("key"))
    chunked.as("x").join(chunked.as("y"), Seq("chunk", "key"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("x.sig").as("sig_a"),
        col("y.id").as("id_b"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** ASYMMETRIC containment detection — the near-dup class Jaccard and
    * MinHash structurally miss: a short document quoted or wrapped
    * inside a much longer one has tiny symmetric overlap
    * (|A∩B|/|A∪B| → 0 as B grows) but containment |A∩B|/|A| → 1.
    * Classic uses: excerpt/quotation detection, boilerplate-wrapped
    * article dedup, eval items embedded inside long crawl pages.
    *
    * Measured over [[TextFunctions.winnowedFingerprints]] sets (MOSS,
    * Schleimer et al. 2003 §4 — winnowing's guarantee is exactly
    * containment-shaped: any shared substring of length ≥ k+window−1
    * contributes a shared fingerprint). Emits
    * `(contained_id, container_id, containment)` for ordered pairs
    * with `|fp(a) ∩ fp(b)| / |fp(a)| ≥ threshold`, 6dp — each
    * direction judged by its own denominator, so the excerpt flags
    * against the article and not vice versa. Both numerator and
    * denominator are taken over the POST-df-cap fingerprint sets: a
    * doc made partly of capped boilerplate is judged on its
    * distinctive fingerprints, not diluted by the dropped ones.
    *
    * Scale shape: fingerprints explode to one row per (doc, fp) —
    * already per-doc distinct by construction — pinned once for the
    * three consumers; candidate pairs come from an equi-join ON THE
    * FINGERPRINT VALUE (bucketed, never all-pairs), with fingerprints
    * shared by more than `maxDocFreq` docs dropped first (the q-gram
    * df-cap convention: a boilerplate fingerprint in f docs would fan
    * out f² pairs; the cap bounds it, documented recall trade).
    * CALIBRATE `maxDocFreq` to the corpus — ~1% of docs is a sound
    * start; Σ df² over surviving fingerprints IS the join row count,
    * and repetitive corpora blow it up fast (measured 149M → 1.6M pair
    * rows at 5k docs moving the cap 1000 → 50 on a tiny-vocabulary
    * corpus). Shared counts and sizes are hash aggs with map-side
    * partials.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 8, window: Int = 4,
      maxDocFreq: Int = 1000,
      hash: Column => Column = xxhash64(_),
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2 (got $maxDocFreq)")
    val fp = graft.Caches.trackedPersist(
      df.select(col(idCol).as("_cid"),
        explode(TextFunctions.winnowedFingerprints(col(textCol), k, window, hash))
          .as("_fp")),
      storage)
    val hot = fp.groupBy(col("_fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq).select(col("_fp"))
    val kept = fp.join(broadcast(hot), Seq("_fp"), "left_anti")
    // denominator counts POST-cap fingerprints — the same universe the
    // shared counts come from (and the one the d22 oracle replays); a
    // pre-cap denominator would silently depress containment for docs
    // made partly of capped boilerplate
    val sizes = kept.groupBy(col("_cid")).agg(count(lit(1)).as("_n"))
    val shared = kept.as("a")
      .join(kept.as("b"),
        col("a._fp") === col("b._fp") && col("a._cid") =!= col("b._cid"))
      .groupBy(col("a._cid").as("contained_id"), col("b._cid").as("container_id"))
      .agg(count(lit(1)).as("_shared"))
    shared
      .join(sizes.select(col("_cid").as("contained_id"), col("_n")), Seq("contained_id"))
      .withColumn("containment",
        round(col("_shared").cast("double") / col("_n").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"), col("containment"))
  }

  /** [[containmentPairs]]'s incremental shape — the nightly "is this
    * batch doc an excerpt of something the corpus already holds" gate,
    * mirroring `minhashLshPairsAgainstIndexed`: the corpus side
    * contributes its STORED winnow-fingerprint rows (`(id, wfp)`,
    * maintained at accept time — history is never re-winnowed), the
    * batch winnows locally, and pairs form only batch-CONTAINED-IN-
    * corpus (one direction by design: the drop decision is about the
    * incoming doc; a corpus doc quoted inside a bigger incoming doc is
    * NOT a reason to reject the incoming doc).
    *
    * Returns `(contained_id from incoming, container_id from existing,
    * containment)` with containment = shared post-cap fingerprints over
    * the incoming doc's post-cap fingerprint count, ≥ `threshold`, 6dp.
    * The df-cap is computed on the EXISTING side (that is where
    * boilerplate mass accumulates; one single-column aggregation over
    * the stored table — precompute and store the hot set if even that
    * scan matters) and the hot fingerprints leave BOTH sides, keeping
    * the numerator/denominator universe consistent. The pair join keys
    * on the fingerprint value — bucketed, never all-pairs; the batch
    * side is night-sized and broadcasts.
    */
  def containmentPairsAgainst(existingWinnow: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      k: Int = 8, window: Int = 4, maxDocFreq: Int = 1000,
      hash: Column => Column = xxhash64(_),
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2 (got $maxDocFreq)")
    val existing = existingWinnow.select(col("id").as("_xid"), col("wfp").as("_fp"))
    val batchFp = graft.Caches.trackedPersist(
      incoming.select(col(idCol).as("_bid"),
        explode(TextFunctions.winnowedFingerprints(col(textCol), k, window, hash))
          .as("_fp")),
      storage)
    // hot feeds TWO broadcast anti-joins (keptBatch below and the
    // existing-side cap in the pair join) — unpinned, each consumer
    // re-ran the df-count aggregation over the full winnow table
    // (AQE does not reuse the broadcast across query stages; c11's
    // plan showed the aggregate 3x). Bounded by construction: only
    // fingerprints with df > maxDocFreq survive. One aggregation scan
    // of the stored table is also the at-scale win the df-cap
    // docstring promises ("precompute the hot set").
    val hot = graft.Caches.trackedPersist(
      existing.groupBy(col("_fp")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDocFreq).select(col("_fp")),
      storage)
    val keptBatch = batchFp.join(broadcast(hot), Seq("_fp"), "left_anti")
    val sizes = keptBatch.groupBy(col("_bid")).agg(count(lit(1)).as("_n"))
    existing.join(broadcast(hot), Seq("_fp"), "left_anti")
      .join(keptBatch, Seq("_fp"))
      .groupBy(col("_bid").as("contained_id"), col("_xid").as("container_id"))
      .agg(count(lit(1)).as("_shared"))
      .join(sizes.select(col("_bid").as("contained_id"), col("_n")), Seq("contained_id"))
      .withColumn("containment",
        round(col("_shared").cast("double") / col("_n").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"), col("containment"))
  }
}
