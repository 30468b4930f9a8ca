package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All are pure `Column` expressions built from codegen'd built-ins — no
  * UDFs — so they stay inside whole-stage codegen and run at scan speed
  * over 100 TB of documents. Each returns a Column so callers compose them
  * into a single projection (one pass over `text`).
  */
object TextFunctions {

  /** Evaluate `c` ONCE and expose it to `f` as a bound lambda variable.
    * Spark re-evaluates captured subexpressions inside array lambdas on
    * EVERY element — a transform over n positions that slices a captured
    * n-element hash array recomputes that array n times (O(n²) blowup,
    * measured 950s vs ~1s on the winnowing query). Routing the value
    * through a 1-element array + transform forces single evaluation.
    */
  def bound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Canonical text normalization — run BEFORE any byte-keyed operator
    * (fingerprints, shingles, exact dedup, Bloom probes) so that byte
    * equality means visual equality: Unicode NFC composition
    * ([[NfcNormalize]], native + codegen'd), optional lowercasing,
    * control characters stripped (except newline and tab — document
    * structure), runs of spaces/tabs collapsed to one space, ends
    * trimmed. Scan-local projection; every step is engine-replayable
    * (DuckDB: nfc_normalize / lower / regexp_replace 'g').
    */
  def normalizeText(text: Column, lowercase: Boolean = true): Column = {
    val nfc = NfcNormalize(text)
    val cased = if (lowercase) lower(nfc) else nfc
    trim(regexp_replace(
      regexp_replace(cased, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))
  }

  /** Rewrite each document keeping only the lines that satisfy
    * `keepLine` — the within-document sibling of [[graft.functions
    * .DedupFunctions.removeDuplicateLines]] (that one needs cross-doc
    * state; this one is fully scan-local): one explode to
    * (id, pos, line), a row-local predicate, and a per-document
    * collect of its OWN surviving lines (bounded by document length).
    * No joins, no cross-row state — the cheapest possible line gate.
    * Documents whose every line is dropped come back with empty text
    * (never dropped — the caller's gates decide their fate); NULL text
    * passes through as null.
    */
  def filterLines(docs: DataFrame, idCol: String, textCol: String,
      keepLine: Column => Column): DataFrame = {
    val used = docs.columns.toSet
    val pos = graft.ops.ColNames.fresh(used, "_fl_pos")
    val line = graft.ops.ColNames.fresh(used, "_fl_line")
    val newText = graft.ops.ColNames.fresh(used, "_fl_text")
    val kept = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1)).as(Seq(pos, line)))
      .filter(keepLine(col(line)))
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
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** The C4 line gate (Raffel et al., JMLR 2020 §2.2): keep a line only
    * if it ends in a terminal punctuation mark (period, exclamation,
    * question mark, or closing quotation) AND carries at least
    * `minWords` whitespace words. Boilerplate fragments — nav labels,
    * button text, cookie-notice stubs — rarely do either.
    */
  def c4KeepLine(line: Column, minWords: Int = 3): Column =
    line.rlike("[.!?\"\u201d]\\s*$") && tokenCount(line) >= minWords

  /** Whitespace token count. Empty/blank text → 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish subword count estimate: word-piece regex over letters /
    * digits / punctuation runs (a public GPT-2-style pre-tokenizer shape),
    * counted without materializing the token array.
    */
  def subwordCount(text: Column): Column =
    coalesce(regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")), lit(0))
      .cast("long")

  /** Punctuation ratio: punctuation chars / total chars (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[\\p{Punct}]")).cast("double") / length(text))

  /** Stopword ratio over a given stopword list (whitespace tokens). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => array_contains(typedLit(stopwords), t))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks))
  }

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "was", "for", "on", "with", "as", "at", "by")

  /** Composite quality score in [0, 100]: rewards mid-length documents,
    * penalizes punctuation soup and stopword-free (non-linguistic) text.
    * Heuristic in the spirit of public quality filters (C4/Gopher rules).
    */
  def qualityScore(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val nTok = tokenCount(text)
    val lengthScore = least(nTok.cast("double") / 20.0, lit(1.0)) // saturates at 20 tokens
    val punct = punctRatio(text)
    val punctScore = greatest(lit(0.0), lit(1.0) - punct * 4.0) // >25% punct → 0
    val stopScore = least(stopwordRatio(text, stopwords) * 5.0, lit(1.0)) // saturates at 20%
    // Unrounded: the raw chain of IEEE ops is bit-reproducible across
    // engines; callers round for display if they want to.
    (lengthScore * 0.4 + punctScore * 0.3 + stopScore * 0.3) * 100.0
  }

  /** Stopword-profile language ID over a fixed set of languages: score
    * each language by its stopword hit count (whitespace tokens), pick the
    * argmax; ties and zero hits → "und". Deterministic, n-gram-free
    * heuristic that runs as pure expressions.
    */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "por", "para", "que", "con"))

  def langHits(text: Column, stopwords: Seq[String]): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    size(filter(toks, t => array_contains(typedLit(stopwords), t)))
  }

  def languageId(text: Column, profiles: Map[String, Seq[String]] = LangStopwords): Column = {
    // argmax by hit count; ties go to the alphabetically-first language
    // (encoded as a descending priority field so array_max's struct
    // ordering — field by field — resolves both in one comparison).
    val scored = profiles.toSeq.sortBy(_._1).zipWithIndex.map { case ((lang, words), i) =>
      struct(langHits(text, words).as("hits"), lit(-i).as("prio"), lit(lang).as("lang"))
    }
    val top = array_max(array(scored: _*))
    when(top.getField("hits") <= 0, lit("und")).otherwise(top.getField("lang"))
  }

  /** The eight stop words of Gopher's "stop word presence" rule (Rae et
    * al. 2021, arXiv 2112.11446, A1.1 MassiveWeb filters).
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality gates (Rae et al. 2021, A1.1 — the MassiveWeb rule
    * set, reused by MassiveText/RefinedWeb-style pipelines): per
    * document, every rule's measured signal PLUS its verdict, and the
    * conjunction `passes` — observability-first like the t11 gate
    * report, so a corpus run can show which rule kills what before
    * anything is dropped. Rules (defaults = the paper's):
    *
    *  - word count in [minWords, maxWords]
    *  - mean word length in [minMeanWordLen, maxMeanWordLen]
    *  - symbol-to-word ratio (#, …, ...) ≤ maxSymbolWordRatio
    *  - ≤ maxBulletStartFrac of lines start with a bullet mark
    *  - ≤ maxEllipsisEndFrac of lines end with an ellipsis
    *  - ≥ minAlphaWordFrac of words contain an (ascii) alphabetic char
    *    (the paper's English-centric rule — relax for multilingual)
    *  - ≥ minStopwordHits DISTINCT [[GopherStopwords]] present
    *
    * Every signal is a scan-local pure expression over one bound token
    * split and one bound line split — no joins, no shuffle, whole-stage
    * codegen; ratios come back 6dp-rounded and verdicts compare the
    * ROUNDED values, so an external engine replays gate-for-gate
    * (the t15 oracle). Empty/null text: zero words fails the word-count
    * floor → `passes` false, ratios 0 (visible, never dropped here —
    * composition decides).
    */
  def gopherGates(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletStartFrac: Double = 0.9, maxEllipsisEndFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8, minStopwordHits: Int = 2): DataFrame = {
    val text = col(textCol)
    // null text normalizes to the empty document (zero words, one empty
    // line) so every signal stays non-null and `passes` is plain false
    val out = bound(coalesce(filter(split(lower(trim(text)), "\\s+"),
        t => length(t) > 0), array().cast("array<string>"))) { tk =>
      bound(size(tk).cast("long")) { n =>
        bound(coalesce(split(text, "\n", -1), array(lit("")))) { lines =>
          bound(size(lines).cast("double")) { nl =>
            val meanLen = when(n === 0, lit(0.0))
              .otherwise(aggregate(tk, lit(0L), (acc, t) => acc + length(t))
                .cast("double") / n.cast("double"))
            val symbols = coalesce(regexp_count(text, lit("#")), lit(0)) +
              coalesce(regexp_count(text, lit("\\.\\.\\.")), lit(0)) +
              coalesce(regexp_count(text, lit("…")), lit(0))
            val symbolRatio = when(n === 0, lit(0.0))
              .otherwise(symbols.cast("double") / n.cast("double"))
            val bulletFrac =
              size(filter(lines, l => l.rlike("^\\s*[-*•‣▪]")))
                .cast("double") / nl
            val ellipsisFrac =
              size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
                .cast("double") / nl
            val alphaFrac = when(n === 0, lit(0.0))
              .otherwise(size(filter(tk, t => t.rlike("[a-z]")))
                .cast("double") / n.cast("double"))
            val stopHits = size(filter(typedLit(GopherStopwords),
              w => array_contains(tk, w)))
            struct(
              n.as("n_words"),
              round(meanLen, 6).as("mean_word_len"),
              round(symbolRatio, 6).as("symbol_ratio"),
              round(bulletFrac, 6).as("bullet_frac"),
              round(ellipsisFrac, 6).as("ellipsis_frac"),
              round(alphaFrac, 6).as("alpha_frac"),
              stopHits.cast("long").as("stop_hits"))
          }
        }
      }
    }
    val g = col("_gg")
    def ok(c: Column) = coalesce(c, lit(false))
    docs.select(col(idCol), out.as("_gg"))
      .select(col(idCol),
        g.getField("n_words").as("n_words"),
        g.getField("mean_word_len").as("mean_word_len"),
        g.getField("symbol_ratio").as("symbol_ratio"),
        g.getField("bullet_frac").as("bullet_frac"),
        g.getField("ellipsis_frac").as("ellipsis_frac"),
        g.getField("alpha_frac").as("alpha_frac"),
        g.getField("stop_hits").as("stop_hits"))
      .withColumn("passes", ok(
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolWordRatio &&
          col("bullet_frac") <= maxBulletStartFrac &&
          col("ellipsis_frac") <= maxEllipsisEndFrac &&
          col("alpha_frac") >= minAlphaWordFrac &&
          col("stop_hits") >= minStopwordHits))
  }

  /** Gopher repetition gates (Rae et al. 2021, arXiv 2112.11446, A1.1
    * "repetition removal") — the other half of [[gopherGates]]'s rule
    * set. Per document, every repetition signal PLUS the conjunction
    * `passes`, thresholds defaulting to the paper's:
    *
    *  - `dup_line_frac` ≤ 0.30 — duplicate line OCCURRENCES (beyond each
    *    line's first) over total lines
    *  - `dup_line_char_frac` ≤ 0.20 — characters in those duplicate
    *    occurrences over total line characters
    *  - `top{n}_char_frac` ≤ 0.20/0.18/0.16 for n = 2/3/4 — characters
    *    claimed by the single most frequent word n-gram (count ×
    *    space-free gram length, so overlapping claims multiply; capped
    *    at 1.0), over total word characters; 0 when nothing repeats
    *  - `dup{n}_char_frac` ≤ 0.15…0.10 for n = 5…10 — characters COVERED
    *    by word n-grams occurring ≥ 2 times, each token position counted
    *    ONCE (overlaps collapse), over total word characters
    *
    * Words = non-empty whitespace tokens of `lower(trim(text))` (the
    * [[gopherGates]] definition); lines split on `\n` with empties kept;
    * null text = the empty document. An empty document has all-zero
    * signals and PASSES this gate — nothing repeats in nothing; the
    * word-count floor in [[gopherGates]] is what rejects empties.
    * Fracs are 6dp-rounded and `passes` compares the ROUNDED values,
    * so an external engine replays gate-for-gate (the t16 oracle).
    *
    * Shape at scale: every aggregation and join here keys on a SUPERSET
    * of the doc id, so the docs are hash-partitioned by id ONCE up
    * front and every downstream exchange vanishes —
    * `HashPartitioning(id)` satisfies each stage's clustered
    * distribution ((id,line) counts, (id,n,gram) counts, the
    * duplicated-gram join-back, the overlap-collapsing distinct, the
    * token-length join, the final assembly joins). One shuffle of raw
    * text total; the ~9m-per-doc gram rows (ONE explode covers every n)
    * never cross the wire. The top branch is a min-of-struct agg (ties
    * to the lexicographically smallest gram); dup coverage explodes
    * each duplicated occurrence's n token offsets and collapses overlap
    * with a partition-local distinct. No windows, no driver state.
    */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String,
      maxDupLineFrac: Double = 0.30, maxDupLineCharFrac: Double = 0.20,
      topNGramMax: Seq[(Int, Double)] = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
      dupNGramMax: Seq[(Int, Double)] = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
        8 -> 0.12, 9 -> 0.11, 10 -> 0.10)): DataFrame = {
    val topNs = topNGramMax.map(_._1)
    val dupNs = dupNGramMax.map(_._1)
    val allNs = (topNs ++ dupNs).distinct.sorted
    require(allNs.forall(_ >= 1), s"n-gram orders must be >= 1 (got $allNs)")
    require(topNs.distinct.size == topNs.size && dupNs.distinct.size == dupNs.size,
      "duplicate n-gram orders in the threshold lists")
    val id = col(idCol)
    def toks(c: Column): Column =
      filter(split(lower(trim(coalesce(c, lit("")))), "\\s+"), t => length(t) > 0)

    // ONE shuffle total: docs hash-partitioned by id. Deliberately NOT
    // cached — an InMemoryRelation over an adaptive plan reports
    // Unknown partitioning, which would force every consumer to
    // re-shuffle; as a plain plan node every branch below embeds the
    // SAME exchange subtree and AQE's ReuseExchange collapses them into
    // one shuffle write with N reads, each branch keeping
    // HashPartitioning(id) so no later stage exchanges at all
    // (plan-spec-pinned in TextFunctionsSpec).
    val d0 = docs.select(id, col(textCol).as("_text")).repartition(id)

    // duplicate lines: one explode, counts per (doc, line), roll up
    val lineFr = d0
      .select(id, explode(split(coalesce(col("_text"), lit("")), "\n", -1)).as("_line"))
      .groupBy(id, col("_line")).agg(count(lit(1)).as("_c"))
      .groupBy(id).agg(
        sum(col("_c")).as("_nl"),
        sum(col("_c") * length(col("_line"))).as("_lc"),
        sum(col("_c") - 1).as("_dl"),
        sum((col("_c") - 1) * length(col("_line"))).as("_dlc"))

    // per-doc word-character totals (the gram-frac denominator)
    val tokTotals = d0.select(id,
        bound(toks(col("_text"))) { tk =>
          aggregate(tk, lit(0L), (a, t) => a + length(t))
        }.as("_tc"))

    // ONE explode for every n: (doc, n, pos, gram). Narrow off the
    // shared exchange; its two consumers (counts, the dup join-back)
    // recompute a cheap projection instead of materializing gram strings.
    val grams = d0.select(id,
        explode(bound(toks(col("_text"))) { tk =>
          bound(size(tk)) { m =>
            flatten(transform(typedLit(allNs), nn =>
              when(m - (nn - lit(1)) < 1,
                array().cast("array<struct<_n:int,_pos:int,_gram:string>>"))
                .otherwise(transform(sequence(lit(1), m - (nn - lit(1))), i =>
                  struct(nn.as("_n"), i.as("_pos"),
                    concat_ws(" ", slice(tk, i, nn)).as("_gram"))))))
          }
        }).as("_g"))
      .select(id, col("_g._n").as("_n"), col("_g._pos").as("_pos"),
        col("_g._gram").as("_gram"))
    val counts = grams.groupBy(id, col("_n"), col("_gram"))
      .agg(count(lit(1)).as("_c"))

    // top branch: most-claiming gram per (doc, n); cov = count × space-
    // free length; min(struct(-cov, gram)) = max cov, ties to smallest
    val topCov = counts
      .filter(col("_n").isin(topNs: _*) && col("_c") >= 2)
      .select(id, col("_n"),
        (col("_c") * (length(col("_gram")) - (col("_n") - 1)).cast("long")).as("_cov"),
        col("_gram"))
      .groupBy(id, col("_n"))
      .agg(min(struct((-col("_cov")).as("_neg"), col("_gram").as("_g"),
        col("_cov").as("_cov"))).as("_best"))
      .select(id, col("_n"), col("_best._cov").as("_cov"))

    // dup-coverage branch: occurrences of DUPLICATED grams only, token
    // offsets exploded, overlap collapsed by hash distinct, then summed
    // against per-position token lengths
    val dupKeys = counts
      .filter(col("_n").isin(dupNs: _*) && col("_c") >= 2)
      .select(id, col("_n"), col("_gram"))
    val tokLens = d0.select(id, posexplode(toks(col("_text"))).as(Seq("_i0", "_tok")))
      .select(id, (col("_i0") + 1).as("_ti"), length(col("_tok")).cast("long").as("_tl"))
    val dupCov = grams.join(dupKeys, Seq(idCol, "_n", "_gram"))
      .select(id, col("_n"),
        explode(sequence(col("_pos"), col("_pos") + col("_n") - 1)).as("_ti"))
      .distinct()
      .join(tokLens, Seq(idCol, "_ti"))
      .groupBy(id, col("_n")).agg(sum(col("_tl")).as("_cov"))

    def pivot(d: DataFrame, ns: Seq[Int], prefix: String): DataFrame = {
      val aggs = ns.map(n =>
        max(when(col("_n") === n, col("_cov"))).as(s"_${prefix}${n}"))
      d.groupBy(id).agg(aggs.head, aggs.tail: _*)
    }

    def frac(num: Column, den: Column): Column =
      round(when(den > 0,
        least(lit(1.0), coalesce(num.cast("double"), lit(0.0)) / den.cast("double")))
        .otherwise(lit(0.0)), 6)

    val joined = d0.select(id)
      .join(lineFr, Seq(idCol), "left")
      .join(tokTotals, Seq(idCol), "left")
      .join(pivot(topCov, topNs, "top"), Seq(idCol), "left")
      .join(pivot(dupCov, dupNs, "dup"), Seq(idCol), "left")
    val sigCols =
      Seq(frac(col("_dl"), col("_nl")).as("dup_line_frac"),
        frac(col("_dlc"), col("_lc")).as("dup_line_char_frac")) ++
      topNs.map(n => frac(col(s"_top$n"), col("_tc")).as(s"top${n}_char_frac")) ++
      dupNs.map(n => frac(col(s"_dup$n"), col("_tc")).as(s"dup${n}_char_frac"))
    val out = joined.select(id +: sigCols: _*)
    val passes = (
      Seq(col("dup_line_frac") <= maxDupLineFrac,
        col("dup_line_char_frac") <= maxDupLineCharFrac) ++
      topNGramMax.map { case (n, t) => col(s"top${n}_char_frac") <= t } ++
      dupNGramMax.map { case (n, t) => col(s"dup${n}_char_frac") <= t })
      .reduce(_ && _)
    out.withColumn("passes", coalesce(passes, lit(false)))
  }

  /** The complete Gopher document filter — [[gopherGates]] (quality
    * rules) AND [[gopherRepetition]] (repetition rules) applied as an
    * actual gate: returns the input rows (all columns) whose documents
    * pass BOTH families at the paper defaults. The report forms above
    * stay the observability surface; this is the composition a corpus
    * pipeline drops in front of dedup. Two semi-joins on the id (each
    * side reduced to passing ids first — broadcastable at typical
    * survivor rates); the c10 oracle replays both rule families and
    * the conjunction.
    */
  def gopherFilter(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, minStopwordHits: Int = 2): DataFrame = {
    val q = gopherGates(docs, idCol, textCol,
        minWords = minWords, minStopwordHits = minStopwordHits)
      .filter(col("passes")).select(col(idCol))
    val r = gopherRepetition(docs, idCol, textCol)
      .filter(col("passes")).select(col(idCol))
    docs.join(q, Seq(idCol), "left_semi").join(r, Seq(idCol), "left_semi")
  }

  /** Duplicate word-n-gram fraction — the Gopher/C4-style repetition
    * signal (a document whose text is mostly the same phrases over and
    * over is boilerplate or spam): 1 − distinct-n-grams / n-grams, in
    * [0, 1], 0 for empty/too-short text. n = 1 is the duplicate-word
    * fraction; n = 2/3 catch phrase loops that unique words hide. Pure
    * expressions, single projection; every captured array routes through
    * [[bound]] (per-element re-evaluation trap).
    */
  def duplicateNgramFraction(text: Column, n: Int = 1): Column = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    bound(split(lower(trim(text)), "\\s+")) { toks =>
      // sequence(1, m) steps BACKWARDS for m < 1, so the too-short case
      // must short-circuit to an empty gram list (slice keeps the type)
      bound(when(size(toks) - (n - 1) < 1, slice(toks, 1, 0))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))) { grams =>
        when(length(trim(text)) === 0 || size(grams) === 0, lit(0.0))
          .otherwise(lit(1.0) -
            size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      }
    }
  }

  /** Keyword-in-context concordance (the corpus-exploration view every
    * annotation/debugging workflow wants): one row per OCCURRENCE of
    * `term` (whitespace-token, lowercased match) with the `window`
    * tokens on each side joined back to strings. Scan-local: token
    * split bound once, positions found by a filtered index sequence,
    * context by array slices — no join, no shuffle, no UDF; at 100 TB
    * this is a projection that pushes through the scan.
    */
  def concordance(df: DataFrame, idCol: String, textCol: String,
      term: String, window: Int = 3): DataFrame = {
    require(term.nonEmpty, "concordance needs a non-empty term")
    require(window >= 0, s"window must be >= 0 (got $window)")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    df.select(col(idCol), toks.as("_toks"))
      .withColumn("pos", explode(filter(
        sequence(lit(1), size(col("_toks"))),
        i => element_at(col("_toks"), i) === lit(term))))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("_toks"),
          greatest(col("pos") - window, lit(1)),
          least(lit(window), col("pos") - 1))).as("before"),
        concat_ws(" ", slice(col("_toks"), col("pos") + 1, lit(window)))
          .as("after"))
  }

  /** Sentence count: runs of terminal punctuation `[.!?]+`; text with
    * words but no terminal punctuation counts as ONE sentence (the
    * Flesch convention — a ratio denominator must not vanish on
    * headline-style text). Null text → null (visible-null rule), empty
    * text → 0. The `[.!?]+` / `\S+` patterns sit in the Java∩RE2 regex
    * common subset, so external engines replay the counts exactly.
    */
  def sentenceCount(text: Column): Column =
    when(text.isNull, lit(null).cast("long")).otherwise(
      greatest(
        coalesce(regexp_count(text, lit("[.!?]+")), lit(0)).cast("long"),
        when(tokenCount(text) > 0, lit(1L)).otherwise(lit(0L))))

  /** Syllable-count heuristic: vowel groups `[aeiouy]+` over the
    * lowercased text — the standard deterministic stand-in (true
    * syllabification needs a dictionary; vowel runs are within ~10% on
    * English and, crucially, reproducible in any regex engine). Null
    * text → null.
    */
  def syllableCount(text: Column): Column =
    when(text.isNull, lit(null).cast("long")).otherwise(
      coalesce(regexp_count(lower(text), lit("[aeiouy]+")), lit(0)).cast("long"))

  /** Flesch reading-ease score: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), with [[tokenCount]] words,
    * [[sentenceCount]] sentences and [[syllableCount]] vowel-group
    * syllables. Wordless text → null (no denominator). Unrounded — the
    * per-row IEEE chain is bit-reproducible from the three exact integer
    * counts; callers round for display. Pure codegen expressions: a
    * corpus-wide readability pass is projection-only at 100 TB.
    */
  def fleschReadingEase(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val s = sentenceCount(text).cast("double")
    val y = syllableCount(text).cast("double")
    when(text.isNull || w === 0.0, lit(null).cast("double"))
      .otherwise(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w))
  }

  /** PII patterns shared by [[redactPii]]/[[piiCount]] — written in the
    * regex COMMON SUBSET of Java (Spark) and RE2 (the usual external
    * engines), so an external auditor can replay the redaction
    * bit-for-bit: character classes, bounded repeats, and `\b` word
    * boundaries only; no lookaround, no backreferences. Order matters:
    * email is matched before the numeric patterns so its digits can't be
    * half-eaten by the phone rule.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4"  -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn"   -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone" -> "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b")

  /** Redact all [[PiiPatterns]] occurrences with `token`, applied in
    * pattern order. Pure codegen `regexp_replace` chain — no UDF; a
    * 100 TB scrub is a projection-only pass that pushes through the scan
    * pipeline untouched.
    */
  def redactPii(text: Column, token: String = "<PII>"): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, p)) =>
      regexp_replace(c, lit(p), lit(token))
    }

  /** Total count of PII matches across all patterns, counted on the
    * PROGRESSIVELY REDACTED text exactly as [[redactPii]] consumes it —
    * so count and redaction agree on overlapping matches by
    * construction.
    */
  def piiCount(text: Column): Column = {
    val (total, _) = PiiPatterns.foldLeft((lit(0L), text)) {
      case ((cnt, c), (_, p)) =>
        (cnt + coalesce(regexp_count(c, lit(p)), lit(0)).cast("long"),
          regexp_replace(c, lit(p), lit(" ")))
    }
    total
  }

  /** Normalized-text fingerprint: lowercase, collapse whitespace, strip
    * punctuation, md5. Canonical exact-dedup key (whitespace/case
    * variations collapse to one fingerprint).
    *
    * Since r16 this routes through the fused native [[FingerprintMd5]]
    * expression — one pass over the UTF-8 bytes instead of a lowercase
    * copy plus two regex passes plus a binary cast around the digest
    * (bit-identical by construction; property-pinned by
    * FingerprintMd5Spec against this original chain, which the DuckDB
    * oracles keep replaying):
    *
    *   md5(regexp_replace(regexp_replace(lower(text),
    *       "[^a-z0-9\\s]", ""), "\\s+", " ").cast("binary"))
    */
  def fingerprint(text: Column): Column = FingerprintMd5(text)

  /** Rolling hash over character k-grams of the normalized text — the
    * primitive under winnowing fingerprints. One projection, no UDF:
    * `substr` + `xxhash64` per position. Short texts hash whole.
    */
  def kgramHashes(text: Column, k: Int,
      hash: Column => Column = xxhash64(_)): Column =
    bound(regexp_replace(lower(trim(text)), "\\s+", " ")) { norm =>
      val n = length(norm) - (k - 1)
      when(n <= 0, array(hash(norm)))
        .otherwise(transform(sequence(lit(1), n), i => hash(norm.substr(i, lit(k)))))
    }

  /** Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    * 2003, public): slide a `window` over the rolling k-gram hashes, keep
    * each window's minimum, dedup + sort. Guarantees any shared substring
    * of length ≥ k + window − 1 contributes at least one shared
    * fingerprint — the standard near-dup / containment sketch for text.
    */
  def winnowedFingerprints(text: Column, k: Int = 8, window: Int = 4,
      hash: Column => Column = xxhash64(_)): Column =
    bound(kgramHashes(text, k, hash)) { hashes =>
      val n = size(hashes) - (window - 1)
      // window is a plan-time constant, so each window minimum unrolls to
      // one `least` over `window` O(1) element_at reads — no sliced
      // temporary array per position (the slice+array_min form allocated
      // and scanned a fresh 4-element array for every window). least and
      // array_min agree on never-null hash values.
      def winMin(i: Column): Column =
        least((0 until window).map(o => element_at(hashes, i + lit(o))): _*)
      val mins = when(n <= 0, array(array_min(hashes)))
        .otherwise(transform(sequence(lit(1), n), i => winMin(i)))
      array_sort(array_distinct(mins))
    }

  /** Production path of [[winnowedFingerprints]]: the native
    * [[WinnowFingerprints]] expression — one compiled pass per document
    * (in-place byte-range hashing, monotonic-deque window minimum)
    * instead of a lambda frame and a sliced temporary array per
    * position. Bit-identical to the HOF form at `hash = xxhash64(_)`
    * (pinned by spec); the HOF form stays for pluggable hashes (the
    * md5 variant is what the cross-engine oracle can recompute).
    */
  def winnowedFingerprintsNative(text: Column, k: Int = 8, window: Int = 4): Column =
    WinnowFingerprints(regexp_replace(lower(trim(text)), "\\s+", " "), k, window)

  /** Fixed-size token-window chunking with overlap — the front half of
    * the chunk → embed → pool loop ([[SimilarityFunctions.meanPoolFlat]]
    * is the back half): document i becomes ⌈max(0, n−size)/stride⌉ + 1
    * windows of `chunkSize` whitespace tokens starting every `stride`
    * tokens (the final window may be shorter; blank documents produce
    * zero chunks). Output: one row per (document, chunk) —
    * `(idCol, chunk_id, chunk_text, n_tokens)`, chunk ids 0-based in
    * document order.
    *
    * Scale shape: a single projection (the chunk list is one bound
    * `transform` over the token split — no shuffle, no UDF) followed by
    * an explode; chunk assignment is a pure row function, so re-runs
    * and engines agree on the exact chunk set. `stride < chunkSize`
    * gives sliding overlap (context preserved across boundaries);
    * `stride == chunkSize` gives disjoint packing.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 128, stride: Int = 64): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1 (got $chunkSize)")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize] (got $stride)")
    val chunks = bound(split(trim(col(textCol)), "\\s+")) { toks =>
      bound(size(toks)) { n =>
        transform(
          // ceil((max(0, n - size)) / stride) = the last window index,
          // inclusive (Column `/` is double division — floor restores
          // the integer ceil-div)
          sequence(lit(0),
            floor((greatest(n - chunkSize, lit(0)) + lit(stride - 1))
              / lit(stride)).cast("int")),
          i => struct(
            i.cast("int").as("chunk_id"),
            concat_ws(" ", slice(toks, i * stride + 1, lit(chunkSize))).as("chunk_text"),
            least(lit(chunkSize), n - i * stride).cast("int").as("n_tokens")))
      }
    }
    df.select(col(idCol),
        explode(when(length(trim(col(textCol))) === 0,
          array().cast("array<struct<chunk_id:int,chunk_text:string,n_tokens:int>>"))
          .otherwise(chunks)).as("_c"))
      .select(col(idCol), col("_c.chunk_id").as("chunk_id"),
        col("_c.chunk_text").as("chunk_text"), col("_c.n_tokens").as("n_tokens"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * word n-grams that appear in no other document — the complement of
    * the corpus-overlap signal. Boilerplate-heavy pages (nav chrome,
    * licence footers, templated listings) trend toward 0; genuinely new
    * prose toward 1. The aggregate ranking companion to the PAIRWISE
    * dedup family: containment/Jaccard say *who* a document overlaps,
    * novelty says *how much of it* is its own — the upweight-the-novel
    * / downweight-the-templated curation signal.
    *
    * Returns `(id, n_grams, n_novel, novelty)` for every input row;
    * `novelty` = n_novel / n_grams rounded to 6 dp (a ratio of ints
    * with denominator ≪ 2·10⁶ can never land on a .xxxxxx5 decimal
    * boundary, so the round is engine-independent), null when the
    * document has no grams (empty text).
    *
    * Scale shape: one explode to distinct (doc, gram) pairs (shingles
    * are distinct per doc by construction), gram document-frequency in
    * one map-side-partial hash agg, one equi-join back on the gram, and
    * a per-doc aggregation. The df frame is VOCABULARY-sized, not
    * corpus-sized; nothing is all-pairs. df == 1 means "only this doc"
    * because the pairs are per-doc distinct.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    val grams = graft.Caches.trackedPersist(
      df.select(col(idCol).as("_id"),
          explode(graft.functions.DedupFunctions.wordShingles(col(textCol), n))
            .as("_g"))
        .filter(col("_g") =!= ""),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gdf = grams.groupBy("_g").agg(count(lit(1)).as("_df"))
    val perDoc = grams.join(gdf, "_g")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_novel"))
    df.select(col(idCol)).join(perDoc, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams").isNotNull,
          round(col("n_novel").cast("double") / col("n_grams"), 6))
          .as("novelty"))
  }

  /** Segmental type-token ratio (STTR): lexical diversity that, unlike
    * the raw TTR, doesn't collapse with document length — the corpus
    * quality signal that separates varied prose from template spam
    * whose token COUNT gates (t1/t2) look fine. Tokens split on the
    * corpus-wide lowercase-whitespace standard; the text divides into
    * consecutive `window`-token segments, each scores
    * distinct/window, and STTR is their mean — which here reduces to
    * ONE exact division: Σ per-segment distinct counts (exact ints)
    * over nSeg·window, rounded 6dp. Docs shorter than one window score
    * their whole-text TTR (distinct/len). NULL/empty text → null.
    *
    * Scale shape: entirely scan-local — one projection, no explode, no
    * shuffle; the per-row cost is len/window array_distinct calls over
    * bounded slices.
    */
  def sttr(text: Column, window: Int = 25): Column = {
    require(window >= 1, s"window must be >= 1 (got $window)")
    val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    val n = size(toks)
    val nSeg = (n / window).cast("int") // integral division of ints
    val segDistinct = aggregate(
      transform(sequence(lit(0), nSeg - 1),
        i => size(array_distinct(slice(toks, i * window + 1, lit(window))))
          .cast("long")),
      lit(0L), (acc, c) => acc + c)
    when(text.isNull || n === 0, lit(null).cast("double"))
      .when(n < window,
        round(size(array_distinct(toks)).cast("double") / n.cast("double"), 6))
      .otherwise(round(segDistinct.cast("double")
        / (nSeg * window).cast("double"), 6))
  }

  /** Self-BLEU-2 corpus diversity audit (Zhu et al., SIGIR 2018 — the
    * Texygen metric): each document scored as a BLEU-2 candidate with
    * EVERY OTHER document as reference. High self-BLEU = the corpus
    * repeats itself (mode collapse in generated data, boilerplate in
    * crawls); the per-doc scores localize WHICH documents are the
    * redundant ones — the diversity companion to t18's novelty.
    *
    * Modified n-gram precision pₙ(d) = Σ_g min(c_d(g), maxref(g,d)) /
    * Σ_g c_d(g), where maxref(g,d) = max count of g in any OTHER doc —
    * computed EXACTLY without an all-pairs join: per gram keep
    * (m1 = max per-doc count, n1 = #docs attaining m1, m2 = runner-up
    * count); then maxref is m2 only when d is the unique maximum
    * holder, else m1. self_bleu2 = √(p1·p2) (brevity penalty ≡ 1:
    * the pooled reference is always longer than the candidate).
    *
    * Scale shape: per-level work is (gram, doc) counts → per-gram max →
    * one join-back agg for (n1, m2) → clip join — all map-side-partial
    * hash aggs and equi-joins on the gram key, Zipf-distributed, no
    * window, no all-pairs. Precisions are exact long ratios rounded at
    * 6dp; √ is IEEE-exact — engine-replayable end to end.
    */
  def selfBleu2(df: DataFrame, idCol: String, textCol: String,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    def pinned(d: DataFrame): DataFrame = graft.Caches.trackedPersist(d, storage)
    val toks = df.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_g"))
      .filter(length(col("_g")) > 0)
    val bgs = df.select(col(idCol),
        explode(bound(split(lower(trim(col(textCol))), "\\s+")) { ts =>
          bound(size(ts)) { n =>
            when(n < 2, array().cast("array<string>"))
              .otherwise(transform(sequence(lit(1), n - 1), i =>
                concat_ws(" ", element_at(ts, i), element_at(ts, i + 1))))
          }
        }).as("_g"))
    def precision(grams: DataFrame, outCol: String): DataFrame = {
      val c = pinned(grams.groupBy(col(idCol), col("_g"))
        .agg(count(lit(1)).as("_c")))
      val s1 = c.groupBy(col("_g")).agg(max(col("_c")).as("_m1"))
      val st = c.join(s1, "_g").groupBy(col("_g"))
        .agg(max(col("_m1")).as("_m1"),
          sum(when(col("_c") === col("_m1"), 1L).otherwise(0L)).as("_n1"),
          max(when(col("_c") < col("_m1"), col("_c"))).as("_m2"))
      val maxref = when(col("_c") === col("_m1") && col("_n1") === 1L,
        coalesce(col("_m2"), lit(0L))).otherwise(col("_m1"))
      c.join(st, "_g")
        .select(col(idCol), least(col("_c"), maxref).as("_cl"), col("_c"))
        .groupBy(col(idCol))
        .agg(round(sum(col("_cl")).cast("double")
          / sum(col("_c")).cast("double"), 6).as(outCol))
    }
    df.select(col(idCol))
      .join(precision(toks, "p1"), Seq(idCol), "left")
      .join(precision(bgs, "p2"), Seq(idCol), "left")
      .select(col(idCol), col("p1"), col("p2"),
        round(sqrt(col("p1") * col("p2")), 6).as("self_bleu2"))
  }
}
