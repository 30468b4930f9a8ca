package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine is the exact baseline: a single projection per
  * (query, row) pair — for a handful of queries it's a broadcast of the
  * query vectors and ONE scan of the corpus, which is optimal. The scale
  * path for all-pairs / many-query workloads is LSH bucketing (random
  * hyperplane signatures, self-join on bucket) or IVF (coarse quantizer →
  * probe nearest partitions), both below.
  *
  * All vector math uses `zip_with`/`aggregate` expressions in double
  * precision — codegen'd, no UDF, deterministic accumulation order
  * (sequential left fold over array elements).
  */
object SimilarityFunctions {

  /** Native codegen dot product (see [[VecDot]]); [[dotHof]] is the
    * higher-order-function baseline with identical fold semantics.
    */
  def dot(a: Column, b: Column): Column = VecDot(a, b)

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity; null when either vector has zero norm, when
    * lengths differ, or when any element is null. Backed by the native
    * codegen [[VecCosine]] expression — bit-identical to [[cosineHof]]
    * (same element-order accumulation) but runs inside whole-stage
    * codegen, which higher-order functions never do.
    */
  def cosine(a: Column, b: Column): Column = VecCosine(a, b)

  /** The higher-order-function formulation — the composition-first
    * baseline [[cosine]] is verified against (see SimilarityFunctionsSpec).
    */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Mean-pooling of embedding groups (chunk vectors → one document
    * vector): posexplode to (group, dim, value) and hash-aggregate the
    * per-dimension means — the explode + codegen-hash-agg shape, with
    * map-side partials so the shuffle carries one (group, dim) partial
    * per partition, never the vectors. An array-lambda `zip_with` fold
    * over `collect_list` would buffer every chunk vector per group AND
    * run interpreted; this never materializes a group's vectors anywhere.
    * Returns the flat (groupCol, pos, mean_v) frame — `posexplode` is
    * 0-based. Re-assemble with [[assembleVec]] when a vector column is
    * needed downstream.
    */
  def meanPoolFlat(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("col")).as("mean_v"))

  /** (group, pos, value) → (group, vec) with positions made explicit —
    * `collect_list` arrival order is nondeterministic, so the structs
    * sort on `pos` before projection.
    */
  def assembleVec(flat: DataFrame, groupCol: String, posCol: String = "pos",
      valCol: String = "mean_v"): DataFrame =
    flat.groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col(posCol), col(valCol).as("_v")))),
        s => s.getField("_v")).as("vec"))

  /** Exact top-k neighbors for each query vector, two-phase:
    * phase 1 keeps a bounded per-(partition, query) heap inside
    * `mapPartitions` — each partition emits at most `k × |queries|` rows,
    * so NO shuffle of the |corpus|×|queries| scored rows ever happens;
    * phase 2 is a window rank over the tiny per-partition survivors.
    * `queries` is small (broadcast); corpus scanned exactly once.
    *
    * Cosine is rounded to 6 dp BEFORE ranking so ranking is insensitive
    * to accumulation-order noise in the dot product; ties broken by
    * corpus id → fully deterministic output.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, idCol); requireIntegralId(queries, qIdCol)
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("_cos", round(cosine(col(vecCol), col(qVecCol)), 6))
      .filter(col(idCol) =!= col(qIdCol)) // exclude self-match when ids collide
      .filter(col("_cos").isNotNull)
      .select(col(qIdCol).cast("long"), col(idCol).cast("long"), col("_cos"))
      .as[(Long, Long, Double)]
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  /** Cosine RANGE search (radius query): every corpus vector with
    * cosine ≥ `threshold` to each query — the serving mode top-k can't
    * express: "ALL sufficiently-similar", the shape of dedup-candidate
    * probes around a document, recall-complete retrieval audits, and
    * policy lookups ("anything within 0.9 of a known-bad embedding").
    * Complements [[bruteForceTopK]] (fixed k, unknown radius) with
    * fixed radius, unknown k.
    *
    * Scale shape: queries BROADCAST; the corpus pays one narrow scan
    * through the codegen'd [[VecCosine]] kernel with a scan-local
    * filter — NO shuffle anywhere (results stay where the corpus rows
    * live). Cosines round to 6 dp (the s1 contract) BEFORE the
    * threshold compare, so the cut is boundary-stable cross-engine.
    * For selective thresholds at 100 TB, route through the IVF index
    * first ([[ivfTopK]]'s probed-cell scan) and range-filter the
    * probed cells — this operator is the exact tier.
    */
  def cosineRangeSearch(corpus: DataFrame, queries: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1, 1] (got $threshold)")
    requireIntegralId(corpus, idCol); requireIntegralId(queries, qIdCol)
    corpus.crossJoin(broadcast(queries))
      .withColumn("_cos", round(cosine(col(vecCol), col(qVecCol)), 6))
      .filter(col(idCol) =!= col(qIdCol)) // exclude self-match on shared ids
      .filter(col("_cos").isNotNull && col("_cos") >= threshold)
      .select(col(qIdCol).cast("long").as(qIdCol),
        col(idCol).cast("long").as(idCol), col("_cos").as("cosine"))
  }

  /** The bounded-heap top-k path encodes ids as longs; fail fast with a
    * clear message instead of an ANSI cast error mid-job when a caller
    * brings string/UUID ids (those need a surrogate id column first).
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(dt.typeName),
      s"top-k id column '$idCol' must be integral (got $dt); " +
        "add a surrogate integral id for non-numeric keys")
  }

  /** Two-phase exact top-k over (query, id, score) rows: per-partition
    * bounded heaps inside mapPartitions (each partition emits ≤
    * k × |queries| rows), then one tiny window rank over the survivors.
    * Output columns `_q, _id, _c, rank`; ties broken by lower id.
    */
  /** Per-partition bounded-heap pass shared by [[topKPerQuery]] and
    * the [[hammingTopK]] kernel: folds (query, id, score) rows into
    * per-query k-heaps and emits the survivors (≤ k × |queries| rows
    * per partition). Worst-first ordering: lower score is worse; on
    * equal score a HIGHER id is worse (final tie-break prefers the
    * lower id).
    */
  private def heapPartial(it: Iterator[(Long, Long, Double)],
      k: Int): Iterator[(Long, Long, Double)] = {
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
      case (c, id) => (-c, id)
    }
    val heaps = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
    it.foreach { case (q, id, c) =>
      val h = heaps.getOrElseUpdate(q,
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
      if (h.size < k) h.enqueue((c, id))
      else if (worstFirst.lt((c, id), h.head)) { h.dequeue(); h.enqueue((c, id)) }
    }
    heaps.iterator.flatMap { case (q, h) =>
      h.iterator.map { case (c, id) => (q, id, c) }
    }
  }

  def topKPerQuery(scored: org.apache.spark.sql.Dataset[(Long, Long, Double)],
      k: Int): DataFrame = {
    // k <= 0 would call h.head on an empty heap inside an executor task;
    // fail fast on the driver instead.
    require(k > 0, s"top-k requires k > 0 (got $k)")
    val spark = scored.sparkSession
    import spark.implicits._
    val partial = scored.mapPartitions(it => heapPartial(it, k))
    val w = Window.partitionBy(col("_q")).orderBy(col("_c").desc, col("_id"))
    partial.toDF("_q", "_id", "_c")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127, each
    * element rounds to a signed byte — 4x smaller than float32, 8x
    * smaller than the double arrays Spark hands around, which at 100 TB
    * decides whether an ANN corpus fits executor memory at all. Returns
    * `struct(scale float, q array<tinyint>)`.
    *
    * Cosine is invariant to a per-vector positive scale, so quantized
    * vectors compare DIRECTLY: `cosine(qa.q, qb.q)` equals the cosine of
    * the dequantized vectors exactly ([[VecCosine]] widens integral
    * elements), no dequantization in the hot loop. Both the vector and
    * the derived scale route through [[TextFunctions.bound]] — captured
    * subexpressions inside array lambdas re-evaluate per ELEMENT, so an
    * unbound scale would recompute the array_max O(dim) times per row.
    *
    * Null vector → null; the 1e-30 floor keeps all-zero vectors from
    * dividing by zero (they quantize to all-zero bytes).
    */
  def quantizeInt8(vec: Column): Column =
    // explicit null gate: `greatest` IGNORES nulls, so a null vector
    // would otherwise produce a non-null struct with a floor scale
    when(vec.isNotNull,
      TextFunctions.bound(vec) { v =>
        TextFunctions.bound(
          greatest(array_max(transform(v, x => abs(x.cast("double")))), lit(1e-30)) / 127.0) { s =>
          struct(
            s.cast("float").as("scale"),
            transform(v, x => round(x.cast("double") / s).cast("byte")).as("q"))
        }
      })

  /** 1-bit (sign) quantization: bit d of the sketch is 1 iff
    * `vec[d] > 0`, packed into `dim/32`-word structs of 32-bit words
    * carried as BIGINTs (no 64-bit packing: a set top bit would
    * overflow signed arithmetic, which one engine wraps and another
    * rejects — 32-bit words keep every value < 2³² everywhere). 256×
    * smaller than float64 arrays — the most memory-bound ANN tier:
    * for random unit vectors P(sign agree per dim) = 1 − θ/π (Goemans
    * –Williamson / Charikar SimHash), so Hamming distance on sketches
    * is a monotone estimate of angular distance. Scan-local expression
    * (no UDF); pair with [[hammingTopK]].
    *
    * A vector whose length ≠ `dim` (or a null vector) sketches to a
    * NULL struct — never to zero-filled bits. Truncated/malformed
    * embeddings must be visible as missing sketches, not folded into
    * plausible Hamming distances as if every absent dim were
    * negative (r12 ADVICE).
    */
  /** Hash-derived ±1 sign matrix for sparse random projection
    * (Johnson–Lindenstrauss; Achlioptas JCSS 2003's database-friendly
    * ±1 form): entry (k, j) is +1 when the first hex digit of
    * md5("jl#k#j") is 0–7, else −1 — a pure function of the
    * coordinates, so an external engine regenerates the identical
    * matrix from the same md5 contract (no stored randomness, no RNG
    * seed to ship). Bounded by construction: projDim × dim ints.
    */
  def jlSigns(projDim: Int, dim: Int): Array[Array[Int]] = {
    require(projDim >= 1 && dim >= 1, s"need projDim, dim >= 1 (got $projDim, $dim)")
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(projDim, dim) { (k, j) =>
      val h = md.digest(s"jl#$k#$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1 else -1
    }
  }

  /** Project vectors to `projDim` dimensions with the [[jlSigns]] ±1
    * matrix: p_k = Σ_j s(k,j)·v_j, summed in EXACT DECIMAL(20,10)
    * (the s3b Lloyd-mean convention) so the projected coordinates are
    * order-independent and bit-identical cross-engine — signs are ±1,
    * so the sum is just signed addition of the decimal-cast inputs.
    * JL is the standard pre-ANN compression tier: at 100 TB a 64→16
    * projection cuts every downstream distance evaluation (and the
    * candidate table's bytes) 4× while preserving pairwise geometry
    * to within the lemma's distortion, and the projection itself is a
    * scan-local per-row expression — no shuffle, no UDF.
    *
    * Returns (idCol, vecCol, projCol) with projCol `array<double>`.
    */
  def jlProject(df: DataFrame, projDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      projCol: String = "proj"): DataFrame = {
    val first = df.select(col(vecCol)).limit(1).collect()
    val dim = if (first.nonEmpty && !first(0).isNullAt(0))
      first(0).getSeq[Any](0).length else 0
    require(dim > 0, s"cannot infer vector dim from $vecCol")
    val signs = jlSigns(projDim, dim)
    val vDec = transform(col(vecCol).cast("array<double>"),
      x => x.cast("decimal(20,10)"))
    val comps = (0 until projDim).map { k =>
      val signed = zip_with(vDec, lit(signs(k)),
        (x, s) => when(s > 0, x).otherwise(-x))
      aggregate(signed,
        lit(BigDecimal(0)).cast("decimal(30,10)"),
        (acc, y) => (acc + y).cast("decimal(30,10)"))
        .cast("double")
    }
    df.select(col(idCol), col(vecCol), array(comps: _*).as(projCol))
  }

  /** JL-compressed ANN serving: shortlist by exact cosine in the
    * [[jlProject]]ed space (top `shortlist` per query via the bounded-
    * heap kernel), then re-rank the shortlist by full-dimension cosine
    * and keep top `k` — the classic compress-shortlist-rerank pipeline
    * (the PQ/ADC shape with a linear projection instead of codebooks).
    * Both ranking stages round cosine to 6 dp and break ties by lower
    * corpus id (the s1 contract); self-matches are excluded.
    *
    * Scale shape: the projection is scan-local; the shortlist pass is
    * [[bruteForceTopK]]'s broadcast-kernel scan over projDim-sized
    * vectors (4× cheaper per candidate at 64→16); only shortlist-sized
    * frames (≤ |queries|·shortlist rows) reach the full-dimension
    * re-rank join. Returns (qIdCol, idCol, cosine, rank).
    */
  def jlTopKRerank(corpus: DataFrame, queries: DataFrame, projDim: Int,
      shortlist: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k (got $shortlist < $k)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val projC = jlProject(corpus, projDim, idCol, vecCol, "_p")
    val projQ = jlProject(queries, projDim, qIdCol, qVecCol, "_pq")
    val short = bruteForceTopK(
      projC.select(col(idCol).as("vec_id"), col("_p").as("embedding")),
      projQ.select(col(qIdCol).as("query_id"), col("_pq").as("query_vec")),
      shortlist)
    // re-rank the shortlist by full-dimension cosine
    val scored = short.select(col("query_id"), col("vec_id"))
      .join(corpus.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("_cv")), Seq("vec_id"))
      .join(broadcast(queries.select(col(qIdCol).cast("long").as("query_id"),
        col(qVecCol).as("_qv"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("_cv"), col("_qv")), 6).as("_c"))
      .as[(Long, Long, Double)]
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  def signSketch(vec: Column, dim: Int): Column = {
    require(dim > 0 && dim % 32 == 0, s"dim must be a multiple of 32 (got $dim)")
    val words = (0 until dim / 32).map { w =>
      (0 until 32).map { b =>
        when(element_at(vec, w * 32 + b + 1).cast("double") > 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"w$w")
    }
    when(size(vec) === dim, struct(words: _*))
  }

  /** `(_id long, _ws array<long>)` sketch-word table for one side of a
    * Hamming kernel: [[signSketch]] words as an array, NULL sketches
    * (length mismatch) dropped. Shared by [[hammingTopK]] (collects the
    * query side) and [[hammingTopKBlocked]] (never collects either).
    */
  private def sketchWords(df: DataFrame, id: String, vec: String,
      dim: Int): DataFrame = {
    val nw = dim / 32
    val s = signSketch(col(vec), dim)
    df.select(col(id).cast("long").as("_id"), s.as("_s"))
      .filter(col("_s").isNotNull)
      .select(col("_id"),
        array((0 until nw).map(w => col(s"_s.w$w")): _*).as("_ws"))
  }

  /** Scale-sized LSH band width for [[hammingTopKBlocked]]: the
    * smallest word-aligned b with expected bucket load n/2ᵇ ≤ 2⁶,
    * which bounds the candidate join at Σ-bucket² ≤ 64 · nBands · n —
    * linear in n (a fixed b is n²/2ᵇ: quadratic with a small constant;
    * see the kernel's scaladoc for the measured 200k-vector blowup).
    * Steps, not a continuous log, because bands must divide the 32-bit
    * sketch words: 8 bits to 2¹⁴ rows, 16 to 2²², 32 beyond.
    */
  def sizedBandBits(n: Long): Int =
    if (n <= (1L << 14)) 8 else if (n <= (1L << 22)) 16 else 32

  /** Exact top-k by MATCHING BITS over [[signSketch]] words (64 −
    * Hamming for dim 64): xor + bit_count per word, ties → lower id,
    * self-matches (shared id) excluded — the same answer as ranking
    * the full pair matrix, computed without ever MATERIALIZING it.
    *
    * Architecture (the [[ivfPqTopK]] kernel shape, adopted in r13
    * after the first cut — sketch-join + bounded-heap over 4M
    * produced pair ROWS — benched 72 s at a 2000×2000 pair matrix,
    * ~17 µs/pair lost to per-pair row production in the
    * BroadcastNestedLoopJoin + projection path): query sketches
    * collect to the driver (a serving batch × dim/8 bytes — the
    * bounded-collect convention [[ivfPqTopK]] established for raw
    * query vectors, strictly smaller here) and broadcast; the corpus
    * pays ONE mapPartitions scan over its sketch words with a tight
    * xor + Long.bitCount loop per query and per-partition bounded
    * heaps ([[topKPerQuery]]'s exact semantics via the shared
    * partial-heap helper), so each partition emits ≤ k × |queries|
    * rows and the pair matrix never exists as rows anywhere. The
    * same scan at 2000×2000 runs in well under a second.
    *
    * At 100 TB the sketch table is dim/8 bytes per vector; the scan
    * parallelizes with corpus partitions, nothing corpus-sized
    * shuffles, and raw vectors stay in the lake for the (optional)
    * exact re-rank of the shortlist, the s9/s12 pattern.
    *
    * Rows whose sketch is NULL ([[signSketch]]'s length-mismatch
    * contract) drop from both sides — malformed vectors are visible
    * by absence, never folded into plausible Hamming distances.
    *
    * `maxQueryRows` enforces the bounded-collect contract IN CODE:
    * the query-side collect is a serving batch, never a corpus, and a
    * caller who passes a corpus as the query side (the s20b/s26 audit
    * shape) gets a clear failure at the bound instead of a driver OOM
    * deep into the job — the same visible-failure principle
    * [[signSketch]] applies to length mismatches. Corpus-sized query
    * sides belong on [[hammingTopKBlocked]], which never collects
    * either side.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      maxQueryRows: Int = 1000000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, idCol); requireIntegralId(queries, qIdCol)
    require(maxQueryRows > 0 && maxQueryRows < Int.MaxValue,
      s"maxQueryRows must be in (0, Int.MaxValue) (got $maxQueryRows)")
    // take(max+1), not collect-then-check: the guard must trip WITHOUT a
    // corpus-sized query table ever landing on the driver.
    val taken = sketchWords(queries, qIdCol, qVecCol, dim)
      .as[(Long, Seq[Long])].take(maxQueryRows + 1)
    require(taken.length <= maxQueryRows,
      s"hammingTopK collects the query-side sketch table to the driver " +
        s"(bounded-collect contract); query side exceeds maxQueryRows=" +
        s"$maxQueryRows. Corpus-sized query sides (mutual-KNN, bitext " +
        "mining) belong on hammingTopKBlocked; raise maxQueryRows only " +
        "for a deliberately larger serving batch.")
    val qRows: Array[(Long, Array[Long])] =
      taken.map { case (id, ws) => (id, ws.toArray) }
    val bcQ = spark.sparkContext.broadcast(qRows)
    val partial = sketchWords(corpus, idCol, vecCol, dim).as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val qs = bcQ.value
        heapPartial(it.flatMap { case (id, wsSeq) =>
          val ws = wsSeq.toArray
          qs.iterator.flatMap { case (qid, qws) =>
            if (qid == id) Iterator.empty
            else {
              var m = dim; var w = 0
              while (w < ws.length) {
                m -= java.lang.Long.bitCount(ws(w) ^ qws(w)); w += 1
              }
              Iterator.single((qid, id, m.toDouble))
            }
          }
        }, k)
      }
    topKPerQuery(partial, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").cast("int").as("matching_bits"), col("rank"))
  }

  /** LSH-blocked top-k by matching bits — the production form of
    * [[hammingTopK]] for CORPUS-SIZED query sides (mutual-KNN seeding,
    * bitext mining), where the broadcast kernel's all-pairs enumeration
    * is quadratic and its query-side driver collect is an OOM. Standard
    * bit-sampling LSH over the Hamming space (Indyk & Motwani 1998;
    * the banding economics of Leskovec–Rajaraman–Ullman MMDS ch. 3,
    * the same machinery as the MinHash band join in
    * [[graft.functions.DedupFunctions.minhashDedup]]):
    *
    *  1. each side's [[signSketch]] words split into `dim / bandBits`
    *     contiguous bands of `bandBits` bits; each row explodes into
    *     one `(band, key)` row per band — `dim/8` bytes of sketch per
    *     vector, `dim/bandBits` tiny rows after the explode;
    *  2. candidates = DISTINCT cross-side pairs sharing any exact
    *     `(band, key)` — an equi-join Catalyst shuffles hash-partitioned
    *     on the band key, never a pair enumeration (two vectors are
    *     candidates iff some band collides: Hamming distance < #bands
    *     guarantees a collision by pigeonhole, so close pairs are
    *     found; in general a pair at Hamming d collides with
    *     probability 1 − (1 − (1 − d/dim)^bandBits)^bands — the
    *     standard LSH recall curve: ≈ 1 in the close regime that
    *     near-dup / bitext / mutual-NN matches live in, falling to
    *     ~0.3 by d ≈ dim/3 (spec-pinned on real embeddings), while
    *     RANDOM pairs collide at ≈ bands · 2^-bandBits);
    *  3. exact matching bits (xor + bit_count, codegen'd built-ins)
    *     computed ONLY within candidates; bounded-heap top-k per query
    *     ([[topKPerQuery]] — ties → lower id, [[hammingTopK]]'s exact
    *     semantics restricted to the candidate set).
    *
    * Every stage is deterministic (band keys are bit arithmetic, integer
    * Hamming, fixed tie-breaks), so the full pipeline replays in a SQL
    * oracle — the s20b convention: the oracle is the algorithm, and a
    * banding miss is a property of the method, auditable by diffing
    * against the exact kernel.
    *
    * Scale shape: nothing is collected or broadcast by either side; the
    * band join shuffles `dim/bandBits` rows per vector and the work is
    * Σ (per-bucket |src| × |tgt|) — the measured-Σdf² candidate-join
    * class (d22/m1b precedent). A hub band key (e.g. an all-zeros band
    * under sparse-positive embeddings) concentrates pairs on one
    * reducer; AQE skew-join splits oversized buckets at runtime —
    * adversarially spec-pinned (BandSkewSpec plants a corpus where one
    * band's key is shared by EVERY row and asserts the final adaptive
    * plan carries the skew-split markers on this join).
    *
    * `bandBits` is the recall/cost dial and MUST grow with the corpus
    * (the standard LSH key-length rule): with b-bit keys the expected
    * bucket load is n/2ᵇ, so the candidate bound
    * Σ-bucket² ≈ nBands · n²/2ᵇ makes any FIXED b quadratic with a
    * small constant — measured: 8-bit bands at 200k vectors produced
    * 1.25G candidate rows and 116× wall at 100× data, where 16-bit
    * bands produce 3.2M. The default (`bandBits = 0`) auto-sizes via
    * [[sizedBandBits]] from the larger side's row count, holding load
    * ≤ 2⁶ so the bound stays ≤ 64 · nBands · n — LINEAR in n. Wider
    * bands trade recall for that bound (only pairs agreeing on some
    * full b-bit run collide); past the 32-bit band (n ≳ 2³⁸) raise
    * `dim` instead so nBands stays ≥ 4. `dim = bands × bandBits`
    * exactly; bands never straddle sketch words (`bandBits` divides
    * 32).
    */
  def hammingTopKBlocked(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int, bandBits: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      sizeHint: Long = 0L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, idCol); requireIntegralId(queries, qIdCol)
    require(bandBits == 0 ||
      (bandBits >= 1 && bandBits <= 32 && 32 % bandBits == 0),
      s"bandBits must divide 32 so bands never straddle sketch words, " +
        s"or 0 for count-sized bands (got $bandBits)")
    val cw = sketchWords(corpus, idCol, vecCol, dim)
    val qw = sketchWords(queries, qIdCol, qVecCol, dim)
    // auto-sizing counts the SKETCH tables (valid vectors only — NULL
    // sketches never band, so counting the raw frames over-sizes) and
    // only when the caller supplied neither an explicit width nor a
    // `sizeHint` (an upper bound on the larger side's row count —
    // callers that already know their scale, or run the kernel twice
    // on the same tables like marginBitextMine, skip two full-scan
    // count jobs per call this way; a LOOSE hint only widens bands,
    // trading recall, never correctness).
    val bb =
      if (bandBits != 0) bandBits
      else if (sizeHint > 0L) sizedBandBits(sizeHint)
      else sizedBandBits(math.max(cw.count(), qw.count()))
    val nw = dim / 32
    val bandsPerWord = 32 / bb
    val nBands = nw * bandsPerWord
    val mask = (1L << bb) - 1
    // sketch words are 32-bit packings in non-negative longs, so plain
    // shiftright is already logical here; the unsigned form documents it
    def banded(words: DataFrame, outId: String): DataFrame =
      words.select(col("_id").as(outId),
          explode(array((0 until nBands).map { b =>
            val w = b / bandsPerWord
            val off = (b % bandsPerWord) * bb
            struct(lit(b).as("band"),
              shiftrightunsigned(element_at(col("_ws"), w + 1), off)
                .bitwiseAND(lit(mask)).as("key"))
          }: _*)).as("_bb"))
        .select(col(outId), col("_bb.band").as("_band"),
          col("_bb.key").as("_key"))
    val cand = banded(qw, "_qid").join(banded(cw, "_cid"), Seq("_band", "_key"))
      .filter(col("_qid") =!= col("_cid"))
      .select("_qid", "_cid").distinct()
    val matching = lit(dim) - (0 until nw).map { w =>
      bit_count(element_at(col("_cws"), w + 1)
        .bitwiseXOR(element_at(col("_qws"), w + 1)))
    }.reduce(_ + _)
    val scored = cand
      .join(cw.select(col("_id").as("_cid"), col("_ws").as("_cws")), "_cid")
      .join(qw.select(col("_id").as("_qid"), col("_ws").as("_qws")), "_qid")
      .select(col("_qid"), col("_cid"), matching.cast("double").as("_mb"))
      .as[(Long, Long, Double)]
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").cast("int").as("matching_bits"), col("rank"))
  }

  /** Hard-negative mining for contrastive training (the in-batch-negatives
    * upgrade every embedding-model recipe ships — e.g. DPR, Karpukhin et al.
    * EMNLP 2020 §3.2: the strongest negatives are the ones the current
    * index already ranks high). For each query: shortlist `shortlist`
    * corpus vectors on the 1-bit sign sketch ([[hammingTopK]] — integer
    * xor+bit_count, the only stage touching every corpus row), exact-cosine
    * re-rank the shortlist, DROP same-`labelCol` rows (those are positives
    * or near-duplicates of the anchor's class), keep top `k`.
    *
    * Shortlist-then-filter is the production contract: the class filter
    * runs over ≤ `shortlist` rows per query, never the corpus, so
    * `shortlist` must exceed `k` by the expected same-class density
    * (at C balanced classes, E[same-class in shortlist] ≈ shortlist/C;
    * under-delivery below `k` is visible in the output, not silent).
    * Scale: corpus pass is dim/8 bytes per vector; only
    * `shortlist × |queries|` raw vectors load for the re-rank.
    */
  def hardNegativeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      qLabelCol: String = "query_label"): DataFrame = {
    require(shortlist > k,
      s"shortlist ($shortlist) must exceed k ($k) to survive the class filter")
    val short = hammingTopK(corpus, queries, shortlist, dim,
        idCol, vecCol, qIdCol, qVecCol)
      .select(col(qIdCol), col(idCol))
    val wQ = org.apache.spark.sql.expressions.Window.partitionBy(qIdCol)
      .orderBy(col("cosine").desc, col(idCol))
    short
      .join(corpus.select(col(idCol), col(labelCol).as("_lbl"),
        col(vecCol).cast("array<double>").as("_v")), idCol)
      .join(broadcast(queries.select(col(qIdCol), col(qLabelCol),
        col(qVecCol).cast("array<double>").as("_qv"))), qIdCol)
      .filter(col("_lbl") =!= col(qLabelCol))
      .withColumn("cosine", round(cosine(col("_v"), col("_qv")), 6))
      .withColumn("rank", row_number().over(wQ))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("_lbl").as(labelCol),
        col("cosine"), col("rank"))
  }

  /** Margin-criterion bitext mining (Artetxe & Schwenk, ACL 2019 §3.1
    * "ratio" margin; the CCMatrix/LASER recipe): candidate cross-side
    * pairs are scored by cosine NORMALIZED by both endpoints'
    * neighborhood density —
    *
    *   margin(x,y) = cos(x,y) / ((Σₖ(x→tgt) + Σₖ(y→src)) / 2k)
    *
    * where avgₖ is the mean cosine to the k nearest cross-side
    * neighbors. Plain cosine thresholds fail for bitext because dense
    * regions ("hubs") clear any fixed bar; the margin keeps a pair only
    * when the two sides are closer to EACH OTHER than to their general
    * neighborhoods. Returns the best-margin target per source
    * (forward mining) with `margin ≥ threshold`.
    *
    * Both directions run a sign-sketch kernel (integer xor+bit_count —
    * the only stages touching every vector) with exact 6dp-cosine
    * re-ranks over the bounded shortlists; densities (top-k mean) and
    * candidates (top-`cand`) come from the same re-ranked frame.
    *
    * `blockedBandBits = Some(b)` routes both directions through
    * [[hammingTopKBlocked]] — the production form: bitext mining passes
    * each side as the other's query set, so the broadcast kernel's
    * all-pairs enumeration is quadratic and its query-side collect is
    * corpus-sized; the blocked kernel is a band equi-join with neither
    * side collected (`Some(0)` = count-sized bands, the kernel's
    * default rule). `None` keeps the exact [[hammingTopK]] audit
    * baseline. The shortlist/re-rank economics are s19's either way.
    */
  def marginBitextMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
      cand: Int = 8, shortlist: Int = 16, dim: Int = 64,
      threshold: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockedBandBits: Option[Int] = None): DataFrame = {
    require(shortlist >= cand && shortlist >= k,
      s"shortlist ($shortlist) must cover cand ($cand) and k ($k)")
    // resolve Some(0) = count-sized ONCE for both directions: mining is
    // symmetric (each side queries the other), so the kernel's larger-
    // side rule gives the same width either way — resolving here halves
    // the sizing count jobs (two per run, not two per direction), and
    // passing an explicit width downstream skips the kernel's own
    // sketch-table counts entirely.
    val resolvedBlocked = blockedBandBits.map {
      case 0 => sizedBandBits(math.max(src.count(), tgt.count()))
      case b => b
    }
    val wQ = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col(idCol))
    // shortlist + exact re-rank of `queries` against `corpus` (s19 shape)
    def reranked(corpus: DataFrame, queries: DataFrame): DataFrame = {
      val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("query_vec"))
      val short = resolvedBlocked match {
        case Some(b) => hammingTopKBlocked(corpus, q, shortlist, dim, b,
          idCol, vecCol)
        case None => hammingTopK(corpus, q, shortlist, dim, idCol, vecCol)
      }
      short
        .select(col("query_id"), col(idCol))
        .join(corpus.select(col(idCol),
          col(vecCol).cast("array<double>").as("_v")), idCol)
        .join(broadcast(q.select(col("query_id"),
          col("query_vec").cast("array<double>").as("_qv"))), "query_id")
        .withColumn("cosine", round(cosine(col("_v"), col("_qv")), 6))
        .withColumn("rk", row_number().over(wQ))
        .select(col("query_id"), col(idCol), col("cosine"), col("rk"))
    }
    val fwd = graft.Caches.trackedPersist(reranked(tgt, src),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bwd = reranked(src, tgt)
    // density via the exact 6dp SUM, not avg: a k-mean of 6dp lattice
    // values lands on quarter/half-decimal rounding boundaries (N/(k·10⁶))
    // where engine summation order flips the 6dp round; the sum stays ON
    // the lattice and the single /2k happens inside the margin chain.
    val dSrc = fwd.filter(col("rk") <= k).groupBy("query_id")
      .agg(round(sum(col("cosine")), 6).as("_dsum_src"))
    val dTgt = bwd.filter(col("rk") <= k).groupBy("query_id")
      .agg(round(sum(col("cosine")), 6).as("_dsum_tgt"))
      .withColumnRenamed("query_id", idCol)
    val wBest = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("margin").desc, col(idCol))
    fwd.filter(col("rk") <= cand)
      .join(dSrc, "query_id")
      .join(dTgt, idCol)
      .withColumn("margin", round(
        col("cosine") / ((col("_dsum_src") + col("_dsum_tgt")) / (2 * k)), 6))
      .withColumn("_rn", row_number().over(wBest))
      .filter(col("_rn") === 1 && col("margin") >= threshold)
      .select(col("query_id").as("src_id"), col(idCol).as("tgt_id"),
        col("cosine"), col("margin"))
  }

  /** Simplified silhouette (Hruschka et al. 2004's centroid form of
    * Rousseeuw 1987) over an IVF-style cell layout: per vector,
    * a = cosine distance to its OWN (nearest) centroid and b = distance
    * to the runner-up centroid, s = (b − a)/max(a, b) ∈ [−1, 1];
    * reported as per-cell means. The cluster-quality companion to the
    * s21 balance audit: balance says cells are evenly SIZED, silhouette
    * says they are actually SEPARATED — a near-zero cell mean flags
    * centroids that split one natural cluster (candidates for merging
    * at the next index rebuild).
    *
    * The exact silhouette needs all pairwise distances (O(n²)); the
    * simplified form is the production standard because it is one
    * broadcast-centroid scan — O(n·k), no shuffle beyond the final
    * k-row aggregate, the same economics as IVF assignment itself.
    * Distances are 1 − round₆(cos): on the 6dp lattice, so the a/b
    * compare, the argmin tie (lower centroid id) and b − a are
    * engine-exact; only the final ratio and per-cell mean round.
    */
  def simplifiedSilhouette(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    // with one centroid there is no runner-up: _b would be NULL and
    // every silhouette would silently null out; the count is bounded —
    // centroids are broadcast-sized by contract
    require(centroids.limit(2).count() >= 2,
      "simplifiedSilhouette needs >= 2 centroids (b = runner-up distance " +
        "is undefined for a single cell)")
    val scored = vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .crossJoin(broadcast(centroids.select(col(cIdCol),
        col(cVecCol).cast("array<double>").as("_cv"))))
      .withColumn("_d", lit(1.0) - round(cosine(col("_v"), col("_cv")), 6))
    val wV = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy(col("_d").asc, col(cIdCol).asc)
    val ab = scored.withColumn("_rk", row_number().over(wV))
      .filter(col("_rk") <= 2)
      .groupBy(col(idCol))
      .agg(min(when(col("_rk") === 1, col("_d"))).as("_a"),
        min(when(col("_rk") === 2, col("_d"))).as("_b"),
        min(when(col("_rk") === 1, col(cIdCol))).as(cIdCol))
    val sil = when(greatest(col("_a"), col("_b")) <= 0, lit(0.0))
      .otherwise(round((col("_b") - col("_a")) / greatest(col("_a"), col("_b")), 6))
    ab.select(col(cIdCol), sil.as("_s"))
      .groupBy(col(cIdCol))
      .agg(count(lit(1)).as("n"), round(avg(col("_s")), 6).as("mean_silhouette"))
      .orderBy(cIdCol)
  }

  /** Linear-time MMD² between two embedding samples (Gretton et al.,
    * JMLR 2012 eq. 14 — the streaming estimator): consecutive disjoint
    * quadruples (x₂q, x₂q₊₁, y₂q, y₂q₊₁) each contribute
    *
    *   h_q = k(x₂q,x₂q₊₁) + k(y₂q,y₂q₊₁) − k(x₂q,y₂q₊₁) − k(x₂q₊₁,y₂q)
    *
    * with the RBF kernel k(a,b) = exp(−‖a−b‖²/denom); MMD² = mean h.
    * Near 0 when the samples share a distribution, strictly positive
    * under drift — the DISTRIBUTION-level drift test for embedding
    * columns, where the scalar drift family (PSI a14 / KS a27 / KL
    * mix2) sees only marginals. The quadratic estimator is O(n²);
    * this linear form is the production shape: ONE narrow pass over
    * indexed rows, no pairwise join, error O(1/√n).
    *
    * `x`/`y` carry a dense pair index `idxCol` (0..n−1); deriving it is
    * the caller's job — arithmetic when ids are dense (vec_id div 2
    * for a parity split), [[graft.ops.RankOps.withGlobalRank]]
    * otherwise. Incomplete tail quadruples drop (inner joins).
    * Kernels: ‖a−b‖² = a·a + b·b − 2a·b in the fixed [[dot]] fold
    * order, exp rounded at 6dp (the cls4 exp precedent) — the h sum
    * stays on the lattice; only the final mean rounds.
    */
  def mmdLinear(x: DataFrame, y: DataFrame, denom: Double,
      idxCol: String = "idx", vecCol: String = "embedding"): DataFrame = {
    require(denom > 0, s"denom must be positive (got $denom)")
    def side(df: DataFrame, member: Int, out: String): DataFrame =
      df.filter(col(idxCol) % 2 === member)
        .select(expr(s"$idxCol div 2").as("_q"),
          col(vecCol).cast("array<double>").as(out))
    def k(a: Column, b: Column): Column =
      round(exp(-(dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)) / denom), 6)
    val quads = side(x, 0, "_x0").join(side(x, 1, "_x1"), "_q")
      .join(side(y, 0, "_y0"), "_q").join(side(y, 1, "_y1"), "_q")
    quads
      .select((k(col("_x0"), col("_x1")) + k(col("_y0"), col("_y1"))
        - k(col("_x0"), col("_y1")) - k(col("_x1"), col("_y0"))).as("_h"))
      .agg(count(lit(1)).as("m_quads"), round(avg(col("_h")), 6).as("mmd2"))
  }

  /** Inverse of [[quantizeInt8]]: per-element error ≤ scale/2. */
  def dequantizeInt8(qv: Column): Column =
    TextFunctions.bound(qv.getField("scale").cast("double")) { s =>
      transform(qv.getField("q"), x => x.cast("double") * s)
    }

  /** Deterministic random hyperplanes: coefficient (i, j) from a
    * splitmix-style integer mix of the seed → uniform in [-1, 1]. Pure
    * function of (dim, nBits, seed), so the driver, every executor AND an
    * external oracle engine can regenerate the identical planes — the
    * graft oracle SQL embeds these exact doubles as literals.
    */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    def mix(i: Int, j: Int): Double = {
      var z = seed + i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (z.toDouble / Long.MaxValue.toDouble)
    }
    (0 until nBits).map(i => (0 until dim).map(j => mix(i, j)))
  }

  /** Random-hyperplane LSH signature: bit i = sign(dot(v, h_i)).
    *
    * All `dim × nBits` plane coefficients are bound to ONE
    * `typedLit(array<array<double>>)` — a single literal in the plan —
    * instead of nBits separate dim-sized literals, which at 768-dim ×
    * 16 bits would inject ~12k constants and bloat every analysis pass.
    */
  def hyperplaneSignature(vec: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val planes = typedLit(hyperplanes(dim, nBits, seed))
    val idx = sequence(lit(0), lit(nBits - 1))
    aggregate(
      zip_with(planes, idx, (h, i) =>
        when(dot(vec, h) >= 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** LSH-bucketed approximate near-neighbor pairs, BANDED: the nBits
    * signature splits into `bands` bands of `nBits / bands` bits; two
    * vectors are candidates when ANY band matches (same S-curve shape as
    * MinHash-LSH banding), then exact cosine is verified on candidates
    * only. Requiring the FULL signature to match (the unbanded form) has
    * recall ≈ p^nBits — near zero for any useful threshold — whereas
    * banding gives 1 − (1 − p^rows)^bands (≈ 0.97 for cosine 0.93 at
    * 4×4).
    *
    * Scale tuning: candidates per band-bucket grow as n² / 2^rows, so
    * bits-per-band must track log2(corpus): 4 bits is right for ~10³
    * docs; at 10⁹ use e.g. nBits = 64, bands = 2, rows = 32. The
    * signature is one 64-bit word, so nBits caps at 64 (enforced) — for
    * more bands at 32 bits/band, union the candidate pairs of several
    * calls with distinct `seed`s (each an independent signature) before
    * the verify step. The candidate join is a hash-partitioned equi-join
    * on (band, key); verification touches candidates only.
    *
    * The threshold compares the 6-dp ROUNDED cosine so the kept-pair set
    * is insensitive to accumulation-order noise across engines.
    *
    * The signature frame feeds BOTH the banding branch and the verify
    * branch of the DAG, so it is persisted at `storage` (pass
    * `StorageLevel.NONE` to disable) — without it the hyperplane
    * projection AND the corpus scan under it run twice. The cached rows
    * are (id, vec, 1 long)/row; at 100 TB the caller picks the level
    * (e.g. DISK_ONLY) or pre-materializes signatures themselves.
    */
  def lshNeighborPairs(corpus: DataFrame, dim: Int, nBits: Int = 16,
      bands: Int = 4, minCosine: Double = 0.8, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      hotBucketThreshold: Long = Long.MaxValue, salts: Int = 16): DataFrame = {
    require(bands > 0 && nBits % bands == 0,
      s"nBits ($nBits) must be a positive multiple of bands ($bands)")
    // one 64-bit word per signature: beyond that, shiftleft wraps mod 64
    // and bits silently alias onto wrong buckets
    require(nBits >= 1 && nBits <= 64,
      s"nBits ($nBits) must be in [1, 64]; for more bits, union pairs " +
        "from several seeds")
    val rows = nBits / bands
    val sig = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), dim, nBits, seed))
    graft.Caches.trackedPersist(sig, storage)
    // rows == 64 would make (1L << 64) - 1 wrap to 0 (Java shifts mod 64)
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    val banded = sig.select(col("id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * rows).bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // skew defense for dense embedding clusters: see selfPairJoin — the
    // default threshold keeps the plain self-join plan
    val cands = graft.ops.SkewOps
      .selfPairJoin(banded, Seq("band", "key"), "id", hotBucketThreshold, salts)
      .distinct()
    val vecs = sig.select(col("id"), col("v"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cross-corpus hyperplane-LSH near-neighbor pairs — the INCREMENTAL
    * embedding-dedup shape, mirroring
    * [[DedupFunctions.minhashLshPairsAgainst]]: a new batch of vectors
    * checks against the already-indexed corpus without the
    * existing×existing self-join. Each side signatures independently
    * (identical planes — same dim/nBits/seed required), the band tables
    * join ACROSS sides, and exact cosine verifies candidates. Returns
    * `(id_a, id_b, cosine)` with `id_a` from `existing` and `id_b` from
    * `incoming`, so dropping the batch's near-dups composes regardless
    * of id ordering. At scale the existing side's signatures are a
    * materialized table maintained at append time; the incoming band
    * table is batch-sized and broadcasts.
    */
  def lshNeighborPairsAgainst(existing: DataFrame, incoming: DataFrame,
      dim: Int, nBits: Int = 16, bands: Int = 4, minCosine: Double = 0.8,
      idCol: String = "vec_id", vecCol: String = "embedding", seed: Long = 42L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(bands > 0 && nBits % bands == 0,
      s"nBits ($nBits) must be a positive multiple of bands ($bands)")
    require(nBits >= 1 && nBits <= 64, s"nBits ($nBits) must be in [1, 64]")
    val rows = nBits / bands
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    def sig(df: DataFrame): DataFrame = {
      val s = df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("sig", hyperplaneSignature(col("v"), dim, nBits, seed))
      graft.Caches.trackedPersist(s, storage)
      s
    }
    def banded(s: DataFrame): DataFrame =
      s.select(col("id"), explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * rows).bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val sa = sig(existing)
    val sb = sig(incoming)
    val cands = banded(sa).as("x").join(banded(sb).as("y"), Seq("band", "key"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    cands
      .join(sa.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(sb.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Banded hyperplane-LSH keys of an `(id, vec)` frame as the flat
    * `(id, band, key)` table — the MATERIALIZABLE form of the embedding
    * tier's candidate key, mirroring
    * [[DedupFunctions.bandedSignatures]]: ONE scan-local projection
    * (the signature is a per-row expression — no aggregation at all),
    * `bands` rows per vector. An incremental corpus stores this table
    * alongside its pooled doc vectors so
    * [[lshNeighborPairsAgainstIndexed]] can generate candidates without
    * ever re-projecting corpus vectors through the hyperplanes.
    */
  def hyperplaneBands(vecs: DataFrame, dim: Int, nBits: Int = 16,
      bands: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    require(bands > 0 && nBits % bands == 0,
      s"nBits ($nBits) must be a positive multiple of bands ($bands)")
    require(nBits >= 1 && nBits <= 64, s"nBits ($nBits) must be in [1, 64]")
    val rows = nBits / bands
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    vecs.select(col(idCol).as("id"),
        hyperplaneSignature(col(vecCol), dim, nBits, seed).as("sig"))
      .select(col("id"), explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * rows).bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** [[lshNeighborPairsAgainst]] driven by STORED corpus state — the
    * steady-state embedding-tier shape, mirroring
    * [[DedupFunctions.minhashLshPairsAgainstIndexed]]: the corpus side
    * contributes its materialized `(id, band, key)` table (built by
    * [[hyperplaneBands]] at accept time) and its stored `(id, vec)`
    * pooled-vector table; nothing on the corpus side is re-signatured
    * or re-pooled. The batch side signatures freshly (same
    * dim/nBits/seed — the planes are a pure function of those), the
    * band tables join across sides, exact cosine verifies candidates.
    * Output contract unchanged: `(id_a, id_b, cosine)`, `id_a` from the
    * corpus, `id_b` from the batch.
    *
    * With `broadcastBatchSide` (default) the batch band table and the
    * candidate-pair set broadcast, so the stored band and vector tables
    * stream map-side — scanned, never shuffled. Pass `false` for plain
    * hash joins when a batch outgrows broadcast.
    */
  def lshNeighborPairsAgainstIndexed(existingBands: DataFrame,
      existingVecs: DataFrame, incoming: DataFrame,
      dim: Int, nBits: Int = 16, bands: Int = 4, minCosine: Double = 0.8,
      idCol: String = "vec_id", vecCol: String = "embedding", seed: Long = 42L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      broadcastBatchSide: Boolean = true): DataFrame = {
    // batch vectors feed the signature projection AND the verify join
    val vb = incoming.select(col(idCol).as("id"), col(vecCol).as("v"))
    graft.Caches.trackedPersist(vb, storage)
    val batchBands0 = hyperplaneBands(vb, dim, nBits, bands, "id", "v", seed)
    val batchBands = if (broadcastBatchSide) broadcast(batchBands0) else batchBands0
    val cands0 = existingBands.as("x").join(batchBands.as("y"), Seq("band", "key"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val cands = if (broadcastBatchSide) broadcast(cands0) else cands0
    existingVecs.select(col("id").as("id_a"), col("vec").as("va"))
      .join(cands, Seq("id_a"))
      .join(vb.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Row-local cosine with EXACTLY the accumulation order of [[VecCosine]]
    * / [[cosineHof]] (sequential dot, sequential per-vector norms, sqrt
    * each norm, divide) so centroid ranking done executor-side is
    * bit-identical to the expression path. NaN stands in for the
    * expression's null (zero norm / length mismatch).
    */
  private[graft] def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    if (a == null || b == null || a.length != b.length) return Double.NaN
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    var na = 0.0; i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    var nb = 0.0; i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) Double.NaN else dot / d
  }

  /** SemDeDup candidate pairs (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv
    * 2303.09540): semantic near-duplicates — paraphrases, re-renders,
    * boilerplate variants that share no exact n-grams — found by
    * clustering embeddings and comparing pairwise ONLY within each
    * cluster. The clustering is what makes semantic dedup tractable:
    * all-pairs cosine is O(n²) over the corpus, cluster-bounded pairs
    * are Σ|cluster|² — with k centroids sized so clusters stay ~n/k,
    * the quadratic term drops by k×. Returns `(id_a, id_b, cosine)`
    * pairs at `cosine >= threshold` (6dp-rounded, `id_a < id_b`), which
    * compose with [[DedupFunctions.dropNearDuplicates]] (greedy min-id
    * survivor) or [[DedupFunctions.connectedComponents]] exactly like
    * every other pair generator here.
    *
    * Centroids come in as a (centroid_id, centroid_vec) frame —
    * [[trainCentroids]] output, or any deterministic row sample when
    * cross-engine replay matters (the s3 convention). Assignment is
    * argmax cosine with ties and NaN keeping the LOWER centroid id
    * (the [[ivfTopK]] rule).
    *
    * Scale shape: centroids broadcast (bounded by broadcast memory,
    * never plan size); assignment is one mapPartitions over the corpus
    * — no shuffle of vectors to cluster. The within-cluster self-join
    * shuffles on cluster_id; a pathological hot cluster (half the
    * corpus in one semantic blob) routes through [[graft.ops.SkewOps
    * .selfPairJoin]]'s salted two-sided split when
    * `hotClusterThreshold` is armed. Candidate verification joins
    * vectors back by id — only pair-touched vectors move. The assigned
    * frame is tracked-persisted so the corpus is scanned ONCE, not
    * once per downstream use.
    */
  def semanticDedupPairs(corpus: DataFrame, centroids: DataFrame,
      threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec",
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      hotClusterThreshold: Long = Long.MaxValue, salts: Int = 16): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1, 1] (got $threshold)")
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, idCol)
    val centArr = collectCentroids(centroids, cIdCol, cVecCol)
    require(centArr.nonEmpty, "semanticDedupPairs needs at least one centroid")
    val bc = spark.sparkContext.broadcast(centArr)
    val assigned = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          // strict > over id-sorted centroids: ties and NaN keep the
          // lowest centroid id (the ivfTopK assignment rule)
          // init to the LOWEST centroid id (cs is id-sorted): an all-NaN
            // cosine row (zero vector) stays there instead of inventing a
            // phantom cluster 0 no centroid owns
            var best = cs(0)._1; var bestSim = Double.NegativeInfinity; var i = 0
          while (i < cs.length) {
            val sim = cosineLocal(v, cs(i)._2)
            if (sim > bestSim) { bestSim = sim; best = cs(i)._1 }
            i += 1
          }
          (best, id, v)
        }
      }.toDF("cluster_id", "id", "v")
    graft.Caches.trackedPersist(assigned, storage)
    val cands = graft.ops.SkewOps.selfPairJoin(
      assigned.select(col("cluster_id"), col("id")), Seq("cluster_id"), "id",
      hotClusterThreshold, salts)
    val vecs = assigned.select(col("id"), col("v"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cross-side SemDeDup pairs — [[semanticDedupPairs]]'s incremental /
    * decontamination shape, mirroring [[DedupFunctions
    * .minhashLshPairsAgainst]]: both sides assign to the SAME broadcast
    * centroids, and pairs form only ACROSS sides within a shared
    * cluster — the existing×existing self-join never runs. Two uses:
    * SEMANTIC DECONTAMINATION (existing = the eval/holdout set,
    * incoming = the corpus or a batch: any incoming doc pairing with a
    * holdout doc is a paraphrase-level leak the n-gram
    * decontamination gate cannot see), and the nightly semantic ingest
    * gate (existing = the corpus's stored (cluster_id, id, vector)
    * index, maintained at append time and never re-pooled; incoming =
    * the batch).
    *
    * Returns (id_a from existing, id_b from incoming, cosine ≥
    * threshold, 6dp). Both sides' assignment is one mapPartitions
    * (no vector shuffle); the cross join carries cluster_id — at
    * realistic scales the incoming side is batch-sized and its
    * assigned frame broadcasts into the join.
    */
  def semanticDedupPairsAgainst(existing: DataFrame, incoming: DataFrame,
      centroids: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec",
      broadcastIncoming: Boolean = true): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1, 1] (got $threshold)")
    val spark = existing.sparkSession
    val centArr = collectCentroids(centroids, cIdCol, cVecCol)
    require(centArr.nonEmpty, "semanticDedupPairsAgainst needs at least one centroid")
    val bc = spark.sparkContext.broadcast(centArr)
    def assign(d: DataFrame): DataFrame = {
      import spark.implicits._
      requireIntegralId(d, idCol)
      d.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (id, v) =>
            // init to the LOWEST centroid id (cs is id-sorted): an all-NaN
            // cosine row (zero vector) stays there instead of inventing a
            // phantom cluster 0 no centroid owns
            var best = cs(0)._1; var bestSim = Double.NegativeInfinity; var i = 0
            while (i < cs.length) {
              val sim = cosineLocal(v, cs(i)._2)
              if (sim > bestSim) { bestSim = sim; best = cs(i)._1 }
              i += 1
            }
            (best, id, v)
          }
        }.toDF("cluster_id", "id", "v")
    }
    val ex = assign(existing)
    val in0 = assign(incoming)
    val in = if (broadcastIncoming) broadcast(in0) else in0
    ex.as("x").join(in.as("y"), col("x.cluster_id") === col("y.cluster_id"))
      .withColumn("cosine", round(cosine(col("x.v"), col("y.v")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("cosine"))
  }

  /** Cross-engine-REPLAYABLE distributed Lloyd: a pinned number of
    * k-means iterations whose every step an independent SQL engine can
    * replay bit-for-bit — the trainer behind the fully-oracled
    * trained-IVF query (s3b), where MLlib's k-means|| init is a black
    * box no oracle can follow.
    *
    * Pinned semantics (each independently cheap to replay):
    *  - init: the k vectors with the smallest `idCol`, RENUMBERED to
    *    centroid_id 0..k-1 in ascending source-id order (the original
    *    ids are discarded; an oracle must emit the 0-based index, not
    *    the source vec_ids) — data-derived, no RNG;
    *  - assignment: argmax RAW cosine, ties → lower centroid id (the
    *    s3 oracle precedent: sequential-fold dot products are
    *    bit-stable across engines);
    *  - update: per (cell, dim) mean computed as EXACT DECIMAL sum
    *    (components cast to DECIMAL(20,10) — a deterministic rounding
    *    of the double, identical in any engine) cast to double,
    *    divided by the member count, rounded to 6 dp. Summation order
    *    cannot matter: decimal addition is exact.
    *  - an empty cell keeps its previous centroid.
    *
    * Scale shape: per iteration, ONE broadcast of k×dim centroid
    * literals into the assignment expression, one corpus scan, one
    * (cell, dim)-keyed aggregation (k·dim result rows — collected to
    * the driver as the next round's literals, the bounded-collect
    * convention). Nothing corpus-sized moves; iterations are pinned,
    * not convergence-tested, so the plan is static and replayable.
    */
  def trainCentroidsReplayable(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0 (got $k, $iters)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    var cents: Array[(Long, Seq[Double])] = base
      .orderBy("_id").limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    val dim = if (cents.nonEmpty) cents(0)._2.length else 0
    for (_ <- 0 until iters) {
      val cdf = broadcast(cents.toSeq.toDF("_cid", "_cv"))
      val assigned = base.crossJoin(cdf)
        .withColumn("_cos", cosine(col("_v"), col("_cv").cast("array<double>")))
        .groupBy("_id", "_v")
        // argmax by (cos desc, cid asc): min over the (-cos, cid) struct
        .agg(min(struct((-col("_cos")).as("n"), col("_cid").as("c")))
          .getField("c").as("_cell"))
      val upd = assigned
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_d", "_x")))
        .groupBy("_cell", "_d")
        .agg(round(sum(col("_x").cast("decimal(20,10)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("_m"))
        .groupBy("_cell")
        .agg(array_sort(collect_list(struct(col("_d"), col("_m")))).as("_p"))
        .select(col("_cell"), expr("transform(_p, e -> e._m)").as("_mv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
      cents = cents.map { case (cid, prev) =>
        (cid, upd.getOrElse(cid, prev)) // empty cell keeps its centroid
      }
    }
    cents.toSeq.toDF("centroid_id", "centroid_vec")
  }

  /** Train IVF centroids with Spark MLlib k-means (the "k-means output"
    * the [[ivfTopK]] contract names): distributed Lloyd iterations over
    * the corpus, only the k centers ever come to the driver. Returns the
    * (centroid_id, centroid_vec) frame [[ivfTopK]] consumes. At 100 TB
    * train on a sample (`corpus.sample(...)`) — k-means centers converge
    * on far less data than the full corpus.
    */
  def trainCentroids(corpus: DataFrame, k: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      maxIter: Int = 20): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val feats = corpus.select(
      org.apache.spark.ml.functions.array_to_vector(
        col(vecCol).cast("array<double>")).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).fit(feats)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }.toSeq
      .toDF("centroid_id", "centroid_vec")
  }

  /** IVF-style ANN: assign every corpus vector to its nearest centroid,
    * then queries probe only their `nProbe` nearest cells — turning an
    * all-corpus scan per query into a fraction `nProbe / nCentroids` of
    * the corpus. Final per-query top-k is the same two-phase bounded-heap
    * shape as [[bruteForceTopK]] — nothing here shuffles scored rows.
    *
    * Centroid assignment ships the centroid table to executors as a
    * BROADCAST VARIABLE and computes the per-row argmax inside ONE
    * `mapPartitions` pass — no shuffle of corpus vectors, no join, and
    * the centroid count is bounded by broadcast memory (tens of MB ≈
    * 10⁵ × 768-dim doubles), not by plan-literal size: the earlier
    * `typedLit`-fold form embedded every coefficient in the plan and
    * evaluated an interpreted HOF per row, which capped centroids at a
    * few hundred. Ties and NaN similarities keep the earlier (lower-id)
    * centroid, matching the previous fold semantics.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    val spark = corpus.sparkSession
    val centArr = collectCentroids(centroids, cIdCol, cVecCol)
    val bc = spark.sparkContext.broadcast(centArr)
    // flat per-row argmax: O(nCentroids) per row, fine to ~10^5 centroids
    val assign = (v: Array[Double]) => {
      val cs = bc.value
      var best = -1L; var bestSim = Double.MinValue; var i = 0
      while (i < cs.length) {
        val s = cosineLocal(v, cs(i)._2)
        if (!s.isNaN && s > bestSim) { bestSim = s; best = cs(i)._1 }
        i += 1
      }
      best
    }
    // top-nProbe cells by (sim desc, cid asc); NaN sims sort last
    // (mirrors the old coalesce(-sim, MaxValue) ordering).
    val probe = (qv: Array[Double]) => {
      val cs = bc.value
      cs.map { case (cid, cv) =>
        val s = cosineLocal(qv, cv)
        (if (s.isNaN) Double.MaxValue else -s, cid)
      }.sorted.take(nProbe).map(_._2)
    }
    ivfSearch(corpus, queries, k, assign, probe,
      idCol, vecCol, qIdCol, qVecCol)
  }

  /** Two-level ("coarse quantizer over the quantizer") variant of
    * [[ivfTopK]] for centroid counts past the flat argmax's comfort zone:
    * the centroids themselves are grouped into `coarseCells` buckets by a
    * driver-side spherical k-means, and each row scores the coarse means
    * first (O(coarseCells)), then only the centroids inside its `wProbe`
    * best coarse groups (O(wProbe × k / coarseCells) for balanced
    * groups). At coarseCells ≈ √k the per-row cost drops from O(k) to
    * O(√k) — the difference between 10⁵ and ~600 cosine evals per row at
    * k = 10⁵.
    *
    * The trade is exactness of the ASSIGNMENT: a row whose true nearest
    * centroid hides in a coarse group that doesn't rank in its top
    * `wProbe` gets a second-best cell (recall of the final search decays
    * gracefully — the row is still in a nearby cell). `wProbe =
    * coarseCells` degrades to the exact flat argmax (every centroid is a
    * candidate, same tie semantics — pinned by spec), so callers can dial
    * exactness back up per table. Ties and NaN keep the lower centroid
    * id, matching [[ivfTopK]].
    */
  def ivfTopKHierarchical(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int,
      coarseCells: Int, wProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    require(coarseCells > 0, s"coarseCells must be positive (got $coarseCells)")
    require(wProbe > 0, s"wProbe must be positive (got $wProbe)")
    val spark = corpus.sparkSession
    val centArr = collectCentroids(centroids, cIdCol, cVecCol)
    val bc = spark.sparkContext.broadcast(
      buildCoarseIndex(centArr, math.min(coarseCells, centArr.length)))
    val assign = (v: Array[Double]) => {
      val idx = bc.value
      val cand = idx.candidates(v, wProbe)
      var best = -1L; var bestSim = Double.MinValue; var i = 0
      while (i < cand.length) {
        val s = cosineLocal(v, cand(i)._2)
        if (!s.isNaN && s > bestSim) { bestSim = s; best = cand(i)._1 }
        i += 1
      }
      best
    }
    val probe = (qv: Array[Double]) => {
      val idx = bc.value
      idx.candidates(qv, wProbe).map { case (cid, cv) =>
        val s = cosineLocal(qv, cv)
        (if (s.isNaN) Double.MaxValue else -s, cid)
      }.sorted.take(nProbe).map(_._2)
    }
    ivfSearch(corpus, queries, k, assign, probe,
      idCol, vecCol, qIdCol, qVecCol)
  }

  private def collectCentroids(centroids: DataFrame, cIdCol: String,
      cVecCol: String): Array[(Long, Array[Double])] =
    centroids.select(col(cIdCol).cast("long"), col(cVecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** Shared IVF search: assign every corpus vector to a cell with
    * `assign` (−1 drops the row), list each query's probe cells with
    * `probe`, equi-join on the cell id (probe side broadcast — it is
    * |queries| × nProbe rows), then the same two-phase bounded-heap
    * top-k as [[bruteForceTopK]]. Nothing here shuffles scored rows; the
    * corpus is scanned exactly once, inside ONE mapPartitions whose
    * closures only touch broadcast state.
    */
  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      assign: Array[Double] => Long, probe: Array[Double] => Array[Long],
      idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, idCol); requireIntegralId(queries, qIdCol)
    val assigned = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          val cell = assign(v)
          if (cell >= 0) Iterator.single((id, v, cell)) else Iterator.empty
        }
      }.toDF(idCol, vecCol, "_cell")
    val probes = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (qid, qv) => probe(qv).iterator.map(c => (qid, qv, c)) }
      }.toDF(qIdCol, qVecCol, "_cell")
    val scored = assigned.join(broadcast(probes), Seq("_cell"))
      .withColumn("_cos", round(cosine(col(vecCol), col(qVecCol)), 6))
      .filter(col(idCol) =!= col(qIdCol))
      .filter(col("_cos").isNotNull)
      .select(col(qIdCol).cast("long"), col(idCol).cast("long"), col("_cos"))
      .as[(Long, Long, Double)]
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  /** Driver-built two-level quantizer over a centroid table. `means(g)`
    * is the (unnormalized) element-wise mean direction of coarse group g;
    * `memberIds(g)` / `memberVecs(g)` its centroids sorted by id so the
    * candidate scan preserves [[ivfTopK]]'s lower-id tie preference.
    */
  private[graft] final case class CoarseIndex(
      means: Array[Array[Double]],
      memberIds: Array[Array[Long]],
      memberVecs: Array[Array[Array[Double]]]) extends Serializable {

    /** Centroid candidates from the `wProbe` coarse groups nearest to
      * `v`, merged in ascending centroid-id order.
      */
    def candidates(v: Array[Double], wProbe: Int): Array[(Long, Array[Double])] = {
      val ranked = means.indices.map { g =>
        val s = cosineLocal(v, means(g))
        (if (s.isNaN) Double.MaxValue else -s, g)
      }.sorted.take(wProbe).map(_._2)
      val out = Array.newBuilder[(Long, Array[Double])]
      ranked.foreach { g =>
        var i = 0
        while (i < memberIds(g).length) {
          out += ((memberIds(g)(i), memberVecs(g)(i))); i += 1
        }
      }
      out.result().sortBy(_._1)
    }
  }

  /** Deterministic driver-side spherical k-means over the centroid array
    * (the centroids already fit in driver memory — that is [[ivfTopK]]'s
    * broadcast contract). Stride-sampled init, `iters` Lloyd rounds of
    * assign-by-max-cosine (ties → lower group) + element-wise mean
    * update; a group left empty keeps its previous mean. No randomness,
    * so index builds are reproducible across runs and engines.
    *
    * Replay contract: each round's means round to 6 dp (HALF_UP, the
    * registry convention) — members accumulate in ascending centroid-id
    * order and the round absorbs any last-ulp summation noise, so an
    * oracle replaying the rounds from the same centroids reproduces
    * the group structure exactly (the s3b generated oracle does).
    */
  private[graft] def buildCoarseIndex(cents: Array[(Long, Array[Double])],
      coarseCells: Int, iters: Int = 10): CoarseIndex = {
    require(cents.nonEmpty, "cannot build a coarse index over zero centroids")
    val n = cents.length
    val stride = math.max(1, n / coarseCells)
    var means: Array[Array[Double]] =
      (0 until coarseCells).map(g => cents((g * stride) % n)._2.clone()).toArray
    var assignment: Array[Int] = Array.fill(n)(0)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestSim = Double.MinValue; var g = 0
        while (g < coarseCells) {
          val s = cosineLocal(cents(i)._2, means(g))
          if (!s.isNaN && s > bestSim) { bestSim = s; best = g }
          g += 1
        }
        assignment(i) = best
        i += 1
      }
      val dim = cents(0)._2.length
      val sums = Array.fill(coarseCells)(new Array[Double](dim))
      val counts = new Array[Int](coarseCells)
      i = 0
      while (i < n) {
        val g = assignment(i); val v = cents(i)._2
        var d = 0
        while (d < dim) { sums(g)(d) += v(d); d += 1 }
        counts(g) += 1
        i += 1
      }
      means = (0 until coarseCells).map { g =>
        if (counts(g) == 0) means(g)
        else { val m = sums(g); var d = 0
          while (d < m.length) {
            m(d) = BigDecimal(m(d) / counts(g))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            d += 1
          }; m }
      }.toArray
    }
    val byGroup = cents.indices.groupBy(assignment)
    val memberIds = (0 until coarseCells).map(g =>
      byGroup.getOrElse(g, Seq.empty).map(cents(_)._1).toArray.sorted).toArray
    val memberVecs = (0 until coarseCells).map { g =>
      val idx = byGroup.getOrElse(g, Seq.empty)
        .sortBy(cents(_)._1).map(cents(_)._2).toArray
      idx
    }.toArray
    CoarseIndex(means, memberIds, memberVecs)
  }

  // ───────── product quantization (Jégou/Douze/Schmid, TPAMI 2011) ─────────

  /** Train per-subspace PQ codebooks: `dim` splits into `m` contiguous
    * subspaces of dim/m; each subspace gets its own k-means codebook of
    * `codes` entries fitted on the training sample's sub-vectors.
    * Returns `(subspace, code, centroid_vec)` — m·codes rows, tiny at
    * any scale (the whole point: 256 codes × 8 subspaces × 8 dims of
    * doubles ≈ 128 KB describes a compressor for billions of vectors).
    * Train on a SAMPLE ([[graft.functions.SamplingFunctions
    * .sampleByHash]]) — codebook quality saturates long before corpus
    * size matters. Seeded per subspace for reproducibility, same
    * determinism contract as [[trainCentroids]].
    */
  def trainPqCodebooks(train: DataFrame, dim: Int, m: Int, codes: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      maxIter: Int = 20): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    require(codes >= 2, s"codes must be >= 2 (got $codes)")
    val spark = train.sparkSession
    import spark.implicits._
    val d0 = dim / m
    (0 until m).map { s =>
      val feats = train.select(org.apache.spark.ml.functions.array_to_vector(
        slice(col(vecCol).cast("array<double>"), s * d0 + 1, d0)).as("features"))
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(codes).setSeed(seed + s).setMaxIter(maxIter).fit(feats)
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (s, i, c.toArray.toSeq) }.toSeq
        .toDF("subspace", "code", "centroid_vec")
    }.reduce(_ unionByName _)
  }

  /** Per-query ADC lookup table: dotLut(s)(c) = dot(q_s, codebook_s_c)
    * accumulated as per-subspace partial sums (the grouping an external
    * replay's per-subspace reconstruction reproduces), plus ||q||².
    */
  private def adcLut(qv: Array[Double], books: Array[Array[Array[Double]]],
      m: Int, codes: Int, d0: Int): (Array[Array[Double]], Double) = {
    val dotLut = Array.ofDim[Double](m, codes)
    var nq2 = 0.0
    var s = 0
    while (s < m) {
      var sub = 0.0
      var j = 0
      while (j < d0) { val x = qv(s * d0 + j); sub += x * x; j += 1 }
      nq2 += sub
      var c = 0
      while (c < codes) {
        var d = 0.0; var jj = 0
        while (jj < d0) { d += qv(s * d0 + jj) * books(s)(c)(jj); jj += 1 }
        dotLut(s)(c) = d; c += 1
      }
      s += 1
    }
    (dotLut, nq2)
  }

  private def collectPqCodebooks(codebooks: DataFrame, m: Int,
      codes: Int): Array[Array[Array[Double]]] = {
    val arr = Array.ofDim[Array[Double]](m, codes)
    codebooks.select(col("subspace").cast("int"), col("code").cast("int"),
        col("centroid_vec").cast("array<double>"))
      .collect().foreach { r =>
        arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
    require(arr.forall(_.forall(_ != null)),
      s"codebooks must cover every (subspace, code) in [0,$m)×[0,$codes)")
    arr
  }

  /** PQ-encode a vector corpus: each vector becomes `m` small codes —
    * per subspace, the index of the L2-nearest codebook entry (lower
    * code on exact ties, so encoding is deterministic and
    * partitioning-proof). Output `(idCol, codes array<int>)`: m ints
    * instead of dim doubles — 32× smaller at dim=64/m=8 before even
    * packing codes into bytes — which is what lets a 100 TB corpus's
    * vectors live in executor memory for ANN serving. The codebook
    * broadcasts (m·codes sub-vectors); encoding is one mapPartitions
    * scan, no shuffle, no join. Null or wrong-dimension vectors drop
    * (the library's visible-null rule).
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, dim: Int, m: Int,
      codes: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    requireIntegralId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val d0 = dim / m
    val cb = spark.sparkContext.broadcast(collectPqCodebooks(codebooks, m, codes))
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val books = cb.value
        it.map { case (id, v) =>
          val cs = new Array[Int](m)
          var s = 0
          while (s < m) {
            val book = books(s)
            var best = 0; var bestD = Double.PositiveInfinity; var c = 0
            while (c < book.length) {
              var d = 0.0; var j = 0
              while (j < d0) {
                val diff = v(s * d0 + j) - book(c)(j); d += diff * diff; j += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            cs(s) = best; s += 1
          }
          (id, cs.toSeq)
        }
      }.toDF(idCol, "codes")
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * query precomputes one lookup table of per-(subspace, code) partial
    * dot products and squared norms against the codebooks, and every
    * encoded row scores with m table reads instead of dim multiplies —
    * the approximate cosine of the query against the row's RECONSTRUCTED
    * vector, 6dp-rounded like every cosine in this library. Self-matches
    * (same id) are excluded, zero-norm sides drop, ties break by lower
    * id — [[bruteForceTopK]]'s exact contract, so recall is measurable
    * by a direct join of the two result sets (the s7 harness shape).
    *
    * Scale shape: only the RAW query vectors are driver-collected and
    * broadcast (|queries| · dim doubles — the same "queries are the
    * small side" contract bruteForceTopK's broadcast already assumes);
    * the m·codes-per-query LUTs are built executor-side, once per
    * executor ([[graft.internal.ExecutorMemo]]), so a large offline
    * batch's LUT construction parallelizes instead of serializing
    * through the driver. The corpus side is ONE mapPartitions scan of
    * the m-int code rows (never the raw vectors), and the top-k is the
    * shared bounded-heap path — nothing shuffles scored rows. Compose with an exact re-rank by joining the top-R ids
    * back to the raw vectors and re-scoring via [[bruteForceTopK]] on
    * that R-row slice when ADC recall needs a final exact pass.
    */
  def pqTopK(encoded: DataFrame, queries: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codes: Int, k: Int,
      idCol: String = "vec_id", codesCol: String = "codes",
      qIdCol: String = "query_id", qVecCol: String = "query_vec"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    requireIntegralId(encoded, idCol); requireIntegralId(queries, qIdCol)
    val spark = encoded.sparkSession
    import spark.implicits._
    val d0 = dim / m
    val books = collectPqCodebooks(codebooks, m, codes)
    // per-code squared norms, summed per subspace at score time so the
    // grouping matches an external replay's per-subspace partial sums
    val normLut: Array[Array[Double]] = books.map(_.map { cv =>
      var n = 0.0; var j = 0
      while (j < d0) { n += cv(j) * cv(j); j += 1 }; n
    })
    // only the RAW query vectors cross the driver (|queries| × dim — the
    // same "queries are the small side" contract bruteForceTopK's
    // broadcast assumes); the m×codes-per-query ADC LUTs are built
    // EXECUTOR-side, once per executor per broadcast (ExecutorMemo), so
    // a large offline query batch neither serializes LUT construction
    // through the driver nor ships codes/dim× more bytes than the
    // vectors themselves.
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull && size(col(qVecCol)) === dim)
      .as[(Long, Array[Double])].collect()
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcB = spark.sparkContext.broadcast((books, normLut))
    val lutKey = s"${spark.sparkContext.applicationId}:${bcQ.id}"
    val scored = encoded
      .select(col(idCol).cast("long"), col(codesCol).cast("array<int>"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val (bks, norms) = bcB.value
        val qs = graft.internal.ExecutorMemo.getOrBuild(lutKey) {
          bcQ.value.map { case (qid, qv) =>
            val (dotLut, nq2) = adcLut(qv, bks, m, codes, d0)
            (qid, dotLut, nq2)
          }
        }
        it.flatMap { case (id, cs) =>
          qs.iterator.flatMap { case (qid, dotLut, nq2) =>
            if (qid == id) Iterator.empty
            else {
              var dot = 0.0; var nx2 = 0.0; var s = 0
              while (s < m) {
                val c = cs(s); dot += dotLut(s)(c); nx2 += norms(s)(c); s += 1
              }
              val denom = math.sqrt(nx2) * math.sqrt(nq2)
              if (denom == 0.0) Iterator.empty
              else Iterator.single((qid, id,
                BigDecimal(dot / denom).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
            }
          }
        }
      }
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  /** ADC candidates → exact re-rank: the production ANN serving shape.
    * [[pqTopK]] scans the compressed codes for each query's `rerank`
    * best approximate matches, then ONLY those candidate rows read
    * their raw vectors for an exact cosine, and the final top-`k` ranks
    * the exact scores — ADC's memory/speed shape with the exact scan's
    * precision on the head of the list (Jégou TPAMI 2011 §V's IVFADC-R
    * refinement step, re-expressed over DataFrames).
    *
    * Scale shape: the candidate pair set is |queries| · rerank rows —
    * broadcast-sized by the same "queries are the small side" contract
    * every top-k entry point assumes — so the raw-vector table is
    * probed by a BROADCAST semi-style join: one scan, never shuffled,
    * and only ≤ |queries| · rerank rows survive to the exact-cosine
    * stage. Per-query candidate lists stay per-query (a candidate of
    * query A is not rescored for query B), so the result is exactly
    * "re-rank MY candidate list", replayable row-for-row by an external
    * engine. Self-matches and zero/null cosines are already excluded by
    * the ADC pass; exact ties break by lower id ([[bruteForceTopK]]'s
    * contract).
    */
  def pqTopKRerank(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      codebooks: DataFrame, dim: Int, m: Int, codes: Int, k: Int,
      rerank: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      codesCol: String = "codes", qIdCol: String = "query_id",
      qVecCol: String = "query_vec"): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must be >= k=$k")
    val spark = encoded.sparkSession
    import spark.implicits._
    val cand = pqTopK(encoded, queries, codebooks, dim, m, codes, rerank,
        idCol, codesCol, qIdCol, qVecCol)
      .select(col(qIdCol).cast("long"), col(idCol).cast("long"))
    exactRerank(corpus, queries, cand, dim, k, idCol, vecCol, qIdCol, qVecCol)
  }

  /** Shared exact re-rank tail: join the (query, candidate-id) pairs
    * back to RAW vectors — candidates only, broadcast-sized (≤ rerank ×
    * |queries| rows by construction) — exact-cosine score, bounded-heap
    * top-k. The only stage of a PQ/IVF-PQ serve path that reads raw
    * vectors at all.
    */
  private def exactRerank(corpus: DataFrame, queries: DataFrame,
      cand: DataFrame, dim: Int, k: Int,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val slice = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .join(broadcast(cand), Seq(idCol))
    val scored = slice
      .join(broadcast(queries
        .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
        .filter(col(qVecCol).isNotNull && size(col(qVecCol)) === dim)),
        Seq(qIdCol))
      .withColumn("_cos", round(cosine(col(vecCol), col(qVecCol)), 6))
      .filter(col("_cos").isNotNull)
      .select(col(qIdCol), col(idCol), col("_cos"))
      .as[(Long, Long, Double)]
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  /** Build the IVF-PQ index table — ONE mapPartitions pass over the
    * corpus producing `(idCol, cell, codes)`: the id of the
    * L2/cosine-nearest coarse centroid (cell) and the vector's PQ codes
    * ([[pqEncode]] semantics). This is the stored form a 100 TB ANN
    * deployment materializes at ingest: m small ints + one cell id per
    * vector — the raw vectors never need to be resident at serve time.
    * Centroids and codebooks broadcast; no shuffle, no join. Null /
    * wrong-dimension vectors drop (visible-null rule); a vector with no
    * valid cell (all-NaN sims) drops like [[ivfTopK]]'s assignment.
    */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    requireIntegralId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val d0 = dim / m
    val bcC = spark.sparkContext.broadcast(collectCentroids(centroids, cIdCol, cVecCol))
    val bcB = spark.sparkContext.broadcast(collectPqCodebooks(codebooks, m, codes))
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcC.value; val books = bcB.value
        it.flatMap { case (id, v) =>
          var best = -1L; var bestSim = Double.MinValue; var i = 0
          while (i < cs.length) {
            val s = cosineLocal(v, cs(i)._2)
            if (!s.isNaN && s > bestSim) { bestSim = s; best = cs(i)._1 }
            i += 1
          }
          if (best < 0) Iterator.empty
          else {
            val enc = new Array[Int](m)
            var s = 0
            while (s < m) {
              val book = books(s)
              var bc = 0; var bd = Double.PositiveInfinity; var c = 0
              while (c < book.length) {
                var d = 0.0; var j = 0
                while (j < d0) { val diff = v(s * d0 + j) - book(c)(j); d += diff * diff; j += 1 }
                if (d < bd) { bd = d; bc = c }
                c += 1
              }
              enc(s) = bc; s += 1
            }
            Iterator.single((id, best, enc.toSeq))
          }
        }
      }.toDF(idCol, "cell", "codes")
  }

  /** Cell-assigned RESIDUALS — the training input for residual PQ
    * codebooks and the encode input for [[ivfPqIndexResidual]]: each
    * vector is assigned to its nearest coarse centroid ([[ivfTopK]]'s
    * probe rule: max cosine, lower centroid id on ties, NaN skipped)
    * and emitted as r = v − centroid(cell). Residuals concentrate
    * around 0 with far less variance than the raw corpus, which is
    * exactly why IVFADC (Jégou et al. TPAMI 2011 §III) quantizes them
    * instead of the raw vectors: the same m×codes budget spends its
    * resolution on a much smaller ball. Centroids broadcast; one
    * scan-local pass, no shuffle. Returns (idCol, cell, residual).
    */
  def withResiduals(corpus: DataFrame, centroids: DataFrame, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    requireIntegralId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(collectCentroids(centroids, cIdCol, cVecCol))
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcC.value
        it.flatMap { case (id, v) =>
          var best = -1; var bestSim = Double.MinValue; var i = 0
          while (i < cs.length) {
            val s = cosineLocal(v, cs(i)._2)
            if (!s.isNaN && s > bestSim) { bestSim = s; best = i }
            i += 1
          }
          if (best < 0) Iterator.empty
          else {
            val cv = cs(best)._2
            val r = new Array[Double](dim)
            var j = 0
            while (j < dim) { r(j) = v(j) - cv(j); j += 1 }
            Iterator.single((id, cs(best)._1, r.toSeq))
          }
        }
      }.toDF(idCol, "cell", "residual")
  }

  /** RESIDUAL IVF-PQ index (IVFADC proper, Jégou et al. TPAMI 2011
    * §III): assign each vector to its nearest coarse cell, then
    * PQ-encode the RESIDUAL v − centroid(cell) with `codebooks`
    * (train them on [[withResiduals]] output — residual-distribution
    * codebooks are the point). Same assignment rule, same argmin-L2
    * encode, same (id, cell, codes) index shape and therefore the same
    * storage/serving paths ([[writeIvfPqIndexPartitioned]] /
    * [[ivfPqTopKStored]] compose unchanged) as [[ivfPqIndex]] — only
    * what the codes MEAN differs, so search must reconstruct
    * x̂ = centroid + r̂ ([[ivfPqTopKResidual]]).
    */
  def ivfPqIndexResidual(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, dim: Int, m: Int, codes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    requireIntegralId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val d0 = dim / m
    val bcC = spark.sparkContext.broadcast(collectCentroids(centroids, cIdCol, cVecCol))
    val bcB = spark.sparkContext.broadcast(collectPqCodebooks(codebooks, m, codes))
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcC.value; val books = bcB.value
        it.flatMap { case (id, v) =>
          var best = -1; var bestSim = Double.MinValue; var i = 0
          while (i < cs.length) {
            val s = cosineLocal(v, cs(i)._2)
            if (!s.isNaN && s > bestSim) { bestSim = s; best = i }
            i += 1
          }
          if (best < 0) Iterator.empty
          else {
            val cv = cs(best)._2
            val enc = new Array[Int](m)
            var s = 0
            while (s < m) {
              val book = books(s)
              var bc = 0; var bd = Double.PositiveInfinity; var c = 0
              while (c < book.length) {
                var d = 0.0; var j = 0
                while (j < d0) {
                  val diff = (v(s * d0 + j) - cv(s * d0 + j)) - book(c)(j)
                  d += diff * diff; j += 1
                }
                if (d < bd) { bd = d; bc = c }
                c += 1
              }
              enc(s) = bc; s += 1
            }
            Iterator.single((id, cs(best)._1, enc.toSeq))
          }
        }
      }.toDF(idCol, "cell", "codes")
  }

  /** Search over a RESIDUAL IVF-PQ index ([[ivfPqIndexResidual]]):
    * ADC cosine against the reconstruction x̂ = centroid(cell) + r̂,
    * decomposed into lookup tables so the scan still never touches a
    * raw vector —
    *
    *   dot(q, x̂)  = dot(q, centroid)           (per query × probed cell)
    *              + Σ_s dotLut(s)(code_s)       ([[pqTopK]]'s query LUT)
    *   ‖x̂‖²      = ‖centroid‖²                 (per cell, static)
    *              + 2·Σ_s centDot(cell)(s)(code_s)  (cell × codebook LUT)
    *              + Σ_s ‖book_s(code_s)‖²       ([[pqTopK]]'s norm LUT)
    *
    * All three new tables are bounded by |centroids| and
    * |centroids|·m·codes — driver-bounded inputs already — and build
    * executor-side once per broadcast ([[graft.internal.ExecutorMemo]],
    * the [[ivfPqTopK]] contract). Same probe rule, same 6dp/lower-id/
    * self-exclusion determinism contract, same one-scan bounded-heap
    * shape as [[ivfPqTopK]]; only the reconstruction arithmetic
    * differs. Grouping noise vs a direct cosine of the reconstruction
    * is absorbed by the 6dp round (the pqTopK replay convention).
    */
  def ivfPqTopKResidual(index: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codes: Int, k: Int, nProbe: Int,
      idCol: String = "vec_id", cellCol: String = "cell",
      codesCol: String = "codes", qIdCol: String = "query_id",
      qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    require(nProbe > 0, s"nProbe must be positive (got $nProbe)")
    requireIntegralId(index, idCol); requireIntegralId(queries, qIdCol)
    val spark = index.sparkSession
    import spark.implicits._
    val d0 = dim / m
    val cents = collectCentroids(centroids, cIdCol, cVecCol)
    val books = collectPqCodebooks(codebooks, m, codes)
    val normLut: Array[Array[Double]] = books.map(_.map { cv =>
      var n = 0.0; var j = 0
      while (j < cv.length) { n += cv(j) * cv(j); j += 1 }; n
    })
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull && size(col(qVecCol)) === dim)
      .as[(Long, Array[Double])].collect()
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcMeta = spark.sparkContext.broadcast((cents, books, normLut))
    val lutKey = s"${spark.sparkContext.applicationId}:resid:${bcQ.id}"
    val scored = index
      .select(col(idCol).cast("long"), col(cellCol).cast("long"),
        col(codesCol).cast("array<int>"))
      .as[(Long, Long, Array[Int])]
      .mapPartitions { it =>
        val (cs0, bks, norms) = bcMeta.value
        // static per-cell tables + per-query probe state, built once
        // per executor per broadcast
        val (centNorm2, centDot, cells) = graft.internal.ExecutorMemo.getOrBuild(lutKey) {
          val cn2 = cs0.map { case (cid, cv) =>
            var n = 0.0; var j = 0
            while (j < cv.length) { n += cv(j) * cv(j); j += 1 }
            cid -> n
          }.toMap
          val cd = cs0.map { case (cid, cv) =>
            val t = Array.ofDim[Double](m, codes)
            var s = 0
            while (s < m) {
              var c = 0
              while (c < bks(s).length) {
                var d = 0.0; var j = 0
                while (j < d0) { d += cv(s * d0 + j) * bks(s)(c)(j); j += 1 }
                t(s)(c) = d; c += 1
              }
              s += 1
            }
            cid -> t
          }.toMap
          val byCell = bcQ.value.flatMap { case (qid, qv) =>
            val probed = cs0.map { case (cid, cv) =>
              (
                { val s = cosineLocal(qv, cv)
                  if (s.isNaN) Double.MaxValue else -s },
                cid)
            }.sorted.take(nProbe).map(_._2)
            val (dotLut, nq2) = adcLut(qv, bks, m, codes, d0)
            probed.map { cell =>
              // dot(q, centroid(cell)) — per (query, probed cell)
              val cv = cs0.find(_._1 == cell).get._2
              var dqc = 0.0; var j = 0
              while (j < dim) { dqc += qv(j) * cv(j); j += 1 }
              (cell, (qid, dotLut, nq2, dqc))
            }
          }.groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2) }
          (cn2, cd, byCell)
        }
        it.flatMap { case (id, cell, cs) =>
          cells.getOrElse(cell,
            Array.empty[(Long, Array[Array[Double]], Double, Double)])
            .iterator.flatMap { case (qid, dotLut, nq2, dqc) =>
              if (qid == id) Iterator.empty
              else {
                val cd = centDot(cell)
                var dot = dqc; var nx2 = centNorm2(cell); var s = 0
                while (s < m) {
                  val c = cs(s)
                  dot += dotLut(s)(c)
                  nx2 += 2.0 * cd(s)(c) + norms(s)(c)
                  s += 1
                }
                val denom = math.sqrt(nx2) * math.sqrt(nq2)
                if (denom == 0.0 || denom.isNaN) Iterator.empty
                else Iterator.single((qid, id,
                  BigDecimal(dot / denom).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
              }
            }
        }
      }
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  /** IVF-PQ search — the composition that serves ANN at 100 TB: each
    * query probes its `nProbe` nearest coarse cells ([[ivfTopK]]'s
    * probe rule: cosine desc, centroid id asc, NaN last) and
    * ADC-scores ONLY the index rows in probed cells via the per-query
    * lookup table ([[pqTopK]]'s scoring: approximate cosine against
    * the reconstruction, 6dp-rounded, self-matches excluded, zero
    * norms drop, ties to lower id). Probing multiplies the ADC scan
    * savings: nProbe/nCells of the corpus is touched, and each touched
    * row costs m table reads — compose with [[pqTopKRerank]]'s exact
    * tail when the final head must be exact.
    *
    * Scale shape: centroids, codebooks, and the RAW query vectors
    * broadcast (all driver-bounded by the same contracts as their
    * parent operators); cell probing and the per-query ADC LUTs are
    * built executor-side, once per executor
    * ([[graft.internal.ExecutorMemo]]), never serialized through the
    * driver. The scan is ONE mapPartitions over the `(cell, codes)`
    * index — the cell filter is a broadcast hash-set probe per row,
    * raw vectors are never read — and the top-k rides the shared
    * bounded-heap path. Nothing corpus-sized shuffles.
    */
  def ivfPqTopK(index: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, dim: Int, m: Int, codes: Int, k: Int, nProbe: Int,
      idCol: String = "vec_id", cellCol: String = "cell",
      codesCol: String = "codes", qIdCol: String = "query_id",
      qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    require(nProbe > 0, s"nProbe must be positive (got $nProbe)")
    requireIntegralId(index, idCol); requireIntegralId(queries, qIdCol)
    val spark = index.sparkSession
    import spark.implicits._
    val d0 = dim / m
    val cents = collectCentroids(centroids, cIdCol, cVecCol)
    val books = collectPqCodebooks(codebooks, m, codes)
    // only the RAW query vectors cross the driver; cell probing AND the
    // per-query ADC LUTs are built EXECUTOR-side, once per executor per
    // broadcast (ExecutorMemo) — pqTopK's contract, extended to the
    // probe assignment (|queries| × |centroids| cosines, which on the
    // driver would serialize a large offline batch's probe phase).
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull && size(col(qVecCol)) === dim)
      .as[(Long, Array[Double])].collect()
    // per-code squared norms, summed per subspace at score time (the
    // same external-replay-friendly grouping pqTopK uses)
    val normLut: Array[Array[Double]] = books.map(_.map { cv =>
      var n = 0.0; var j = 0
      while (j < cv.length) { n += cv(j) * cv(j); j += 1 }; n
    })
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcMeta = spark.sparkContext.broadcast((cents, books, normLut))
    val lutKey = s"${spark.sparkContext.applicationId}:${bcQ.id}"
    val scored = index
      .select(col(idCol).cast("long"), col(cellCol).cast("long"),
        col(codesCol).cast("array<int>"))
      .as[(Long, Long, Array[Int])]
      .mapPartitions { it =>
        val (cs0, bks, norms) = bcMeta.value
        // cell -> queries probing it, each with its ADC LUT
        val cells: Map[Long, Array[(Long, Array[Array[Double]], Double)]] =
          graft.internal.ExecutorMemo.getOrBuild(lutKey) {
            bcQ.value.flatMap { case (qid, qv) =>
              val probed = cs0.map { case (cid, cv) =>
                val s = cosineLocal(qv, cv)
                (if (s.isNaN) Double.MaxValue else -s, cid)
              }.sorted.take(nProbe).map(_._2)
              val (dotLut, nq2) = adcLut(qv, bks, m, codes, d0)
              probed.map(cell => (cell, (qid, dotLut, nq2)))
            }.groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2) }
          }
        it.flatMap { case (id, cell, cs) =>
          cells.getOrElse(cell, Array.empty[(Long, Array[Array[Double]], Double)])
            .iterator.flatMap { case (qid, dotLut, nq2) =>
              if (qid == id) Iterator.empty
              else {
                var dot = 0.0; var nx2 = 0.0; var s = 0
                while (s < m) {
                  val c = cs(s); dot += dotLut(s)(c); nx2 += norms(s)(c); s += 1
                }
                val denom = math.sqrt(nx2) * math.sqrt(nq2)
                if (denom == 0.0) Iterator.empty
                else Iterator.single((qid, id,
                  BigDecimal(dot / denom).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
              }
            }
        }
      }
    topKPerQuery(scored, k)
      .select(col("_q").as(qIdCol), col("_id").as(idCol),
        col("_c").as("cosine"), col("rank"))
  }

  /** IVF-PQ search with the exact re-rank tail — the full serving
    * composition (Jégou et al., TPAMI 2011 §V: coarse quantizer +
    * ADC + re-ranking): probe `nProbe` cells, ADC-score only their
    * index rows ([[ivfPqTopK]]), widen to `rerank` candidates, then
    * re-score exactly from raw vectors and keep the true top `k`
    * ([[pqTopKRerank]]'s tail). The ADC head bounds how much corpus is
    * touched (nProbe/nCells, m table reads per row, raw vectors never
    * read); the exact tail bounds the approximation error (only the
    * final head pays a raw-vector read, candidates-only and
    * broadcast-sized). Same determinism contract as every search here:
    * 6dp-rounded cosines, ties to lower id, engine-replayable.
    */
  def ivfPqTopKRerank(index: DataFrame, corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codes: Int, k: Int, rerank: Int, nProbe: Int,
      idCol: String = "vec_id", cellCol: String = "cell",
      codesCol: String = "codes", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must be >= k=$k")
    val cand = ivfPqTopK(index, queries, centroids, codebooks,
        dim, m, codes, rerank, nProbe,
        idCol, cellCol, codesCol, qIdCol, qVecCol, cIdCol, cVecCol)
      .select(col(qIdCol).cast("long"), col(idCol).cast("long"))
    exactRerank(corpus, queries, cand, dim, k, idCol, vecCol, qIdCol, qVecCol)
  }

  /** The DISTINCT coarse cells any of `queries` probes — [[ivfPqTopK]]'s
    * probe rule exactly (cosine desc, centroid id asc, NaN probes last),
    * evaluated on the driver. Bounded on both axes by the operators'
    * existing contracts: queries collect in [[ivfPqTopK]] already (a
    * serving batch, not a corpus), centroids are k·dim rows (the
    * documented bounded-collect convention). Result size ≤ |centroids|.
    *
    * This is the handle that turns probing into PARTITION PRUNING on a
    * stored index: cells known before the plan compiles become an
    * `isin` predicate on the hive partition column, so the scan reads
    * nProbe directories instead of the whole index
    * ([[ivfPqTopKStored]]).
    */
  def probedCells(queries: DataFrame, centroids: DataFrame, nProbe: Int,
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): Seq[Long] = {
    require(nProbe > 0, s"nProbe must be positive (got $nProbe)")
    val cs = collectCentroids(centroids, cIdCol, cVecCol)
    val dim0 = cs.headOption.map(_._2.length).getOrElse(0)
    val qRows = queries
      .select(col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull && size(col(qVecCol)) === dim0)
      .collect().map(_.getSeq[Double](0).toArray)
    qRows.flatMap { qv =>
      cs.map { case (cid, cv) =>
        val s = cosineLocal(qv, cv)
        (if (s.isNaN) Double.MaxValue else -s, cid)
      }.sorted.take(nProbe).map(_._2)
    }.distinct.sorted.toSeq
  }

  /** Persist an [[ivfPqIndex]] as a HIVE-PARTITIONED parquet table:
    * one `cell=<id>` directory per coarse cell, rows within a cell
    * clustered by id (one range pass — the `optimizeZOrder` shape with
    * the partition column leading, so each directory's files hold
    * contiguous id runs and never interleave cells). This is the
    * serving layout a 100 TB ANN tier actually deploys: the index is
    * built/refreshed offline (nightly, after re-training), and every
    * online probe maps to DIRECTORY reads — [[ivfPqTopKStored]] prunes
    * the scan to the probed cells via `PartitionFilters`, so serving
    * cost is nProbe/nCells of the index on DISK, not just post-scan.
    *
    * `codes` (array<int>, m bytes of PQ payload per row) and the id
    * are the only data columns — raw vectors never enter the serving
    * table, the [[ivfPqIndex]] contract.
    */
  def writeIvfPqIndexPartitioned(index: DataFrame, path: String,
      cellCol: String = "cell", idCol: String = "vec_id"): Unit =
    index
      .repartitionByRange(col(cellCol), col(idCol))
      .sortWithinPartitions(col(cellCol), col(idCol))
      .write.mode("overwrite").partitionBy(cellCol).parquet(path)

  /** Incremental refresh of the stored index: encode ONLY the new
    * vectors (per-vector independent given fixed centroids/codebooks —
    * [[ivfPqIndex]] touches nothing but the batch) and APPEND their
    * rows into the existing `cell=` directories. The nightly-ingest
    * shape for ANN serving: a night's batch costs one batch-sized
    * encode + a partitioned append; the corpus-sized index is never
    * read, never rewritten. Result-transparent by construction — the
    * union of per-vector encodings is the same table a full rebuild
    * writes (spec-pinned) — BUT only while centroids/codebooks stay
    * FIXED: after re-training, rebuild ([[writeIvfPqIndexPartitioned]]).
    * Periodic [[compactIvfPqIndexPartitioned]] bounds the small-file
    * growth this append model necessarily accumulates.
    */
  def appendIvfPqIndexPartitioned(newVectors: DataFrame, path: String,
      centroids: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "cell",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): Unit =
    ivfPqIndex(newVectors, centroids, codebooks, dim, m, codes,
        idCol, vecCol, cIdCol, cVecCol)
      .repartitionByRange(col(cellCol), col(idCol))
      .sortWithinPartitions(col(cellCol), col(idCol))
      .write.mode("append").partitionBy(cellCol).parquet(path)

  /** Per-cell compaction of the stored index — the maintenance pass
    * [[appendIvfPqIndexPartitioned]]'s contract assumes: nightly
    * appends add one batch-sized file set to each touched `cell=`
    * directory forever, so scan planning eventually opens thousands of
    * small footers per probe. Compaction rewrites ONLY cells whose
    * data-file count exceeds `maxFilesPerCell` — cost scales with
    * FRAGMENTATION, never with index size (a 100 TB index with ten hot
    * cells rewrites ten directories) — each into `targetFilesPerCell`
    * id-sorted files, restoring [[writeIvfPqIndexPartitioned]]'s
    * clustering.
    *
    * Staged swap per cell, crash-recoverable (the
    * [[graft.corpus.CorpusPipeline.compact]] marker discipline adapted
    * to in-place hive dirs): compacted rows land in
    * `_compact_tmp/cell=N` (underscore-prefixed — invisible to every
    * parquet scan), then the live dir renames to `_compact_old/cell=N`
    * and the tmp renames live (two metadata ops). Every entry runs
    * RECOVERY FIRST: an orphan under `_compact_old` whose live dir
    * exists means that swap completed → delete the orphan; live dir
    * missing means a crash between the renames → restore the old dir
    * (always safe — the old rows stay canonical until the swap
    * completes, and any interrupted tmp is discarded wholesale).
    * Serving is hash-identical by construction: rows never change,
    * only file layout (spec-pinned via [[ivfPqTopKStored]]).
    *
    * CONCURRENCY CONTRACT (r15, per ADVICE): maintenance requires a
    * SINGLE writer and QUIESCED readers. The hash-identical claim
    * above holds for scans that start before or after the pass, NOT
    * for one racing it — between a cell's swap-out and swap-in renames
    * the live `cell=` directory is briefly absent, and a concurrent
    * [[ivfPqTopKStored]] probe (or any parquet scan of the index)
    * would silently return results missing that cell's rows — a
    * silent-missing window, deliberately chosen over the
    * rename-into-live alternative whose failure mode is silent
    * DUPLICATES in top-k (missing-vs-duplicate, same race; the absent
    * dir at least fails loudly for scans that enumerate partitions
    * strictly). The writer half IS enforced in code: a `_compact_lock`
    * marker (underscore-prefixed — invisible to parquet scans) is
    * created exclusively on entry and removed on exit, so a second
    * concurrent compactor fails fast instead of interleaving renames;
    * a crash leaves the lock behind, and the operator clears it after
    * the (always-run) recovery pass — `force = true` does exactly
    * that, for schedulers that own the serving window and know no
    * other writer is live. Readers are the deployment's to quiesce
    * (run compaction inside the ingest window, after
    * [[appendIvfPqIndexPartitioned]] and before serving resumes).
    *
    * Driver work is one `listStatus` per cell — bounded by the cell
    * count, the established listing convention; each rewrite is one
    * cell-sized columnar read → write. Returns scanned/compacted cell
    * and before/after file counts.
    */
  def compactIvfPqIndexPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerCell: Int = 8, targetFilesPerCell: Int = 1,
      idCol: String = "vec_id", force: Boolean = false): Map[String, Long] = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell must be >= 1 (got $maxFilesPerCell)")
    require(targetFilesPerCell >= 1,
      s"targetFilesPerCell must be >= 1 (got $targetFilesPerCell)")
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new Path(root, "_compact_lock")
    if (force) fs.delete(lock, false)
    require(fs.createNewFile(lock),
      s"another compaction holds $lock (single-writer contract); if it " +
        "crashed, re-run with force = true — recovery runs first either way")
    try {
    val tmpRoot = new Path(root, "_compact_tmp")
    val oldRoot = new Path(root, "_compact_old")
    if (fs.exists(oldRoot)) fs.listStatus(oldRoot).foreach { st =>
      val live = new Path(root, st.getPath.getName)
      if (fs.exists(live)) fs.delete(st.getPath, true)
      else require(fs.rename(st.getPath, live),
        s"recovery rename failed: ${st.getPath} -> $live")
    }
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    val cellDirs = fs.listStatus(root).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("cell="))
    def dataFiles(d: Path): Long = fs.listStatus(d).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.toLong
    var compacted = 0L; var before = 0L; var after = 0L
    cellDirs.foreach { st =>
      val nf = dataFiles(st.getPath)
      before += nf
      if (nf > maxFilesPerCell) {
        val name = st.getPath.getName
        val tmp = new Path(tmpRoot, name)
        spark.read.parquet(st.getPath.toString)
          .repartitionByRange(targetFilesPerCell, col(idCol))
          .sortWithinPartitions(col(idCol))
          .write.mode("overwrite").parquet(tmp.toString)
        fs.mkdirs(oldRoot)
        val old = new Path(oldRoot, name)
        require(fs.rename(st.getPath, old),
          s"compact swap-out rename failed: ${st.getPath} -> $old")
        require(fs.rename(tmp, st.getPath),
          s"compact swap-in rename failed: $tmp -> ${st.getPath}")
        fs.delete(old, true)
        compacted += 1
        after += dataFiles(st.getPath)
      } else after += nf
    }
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    if (fs.exists(oldRoot) && fs.listStatus(oldRoot).isEmpty)
      fs.delete(oldRoot, true)
    Map("cells_scanned" -> cellDirs.length.toLong,
      "cells_compacted" -> compacted,
      "files_before" -> before, "files_after" -> after)
    } finally fs.delete(lock, false)
  }

  /** IVF-PQ serving from the STORED, cell-partitioned index (the
    * [[writeIvfPqIndexPartitioned]] layout): probe assignment runs
    * driver-side FIRST ([[probedCells]] — same rule, same bounded
    * collects as [[ivfPqTopK]]), the probed cell ids become an `isin`
    * predicate on the hive partition column — `PartitionFilters` in
    * the scan, nProbe directories read, unprobed cells never touch
    * disk — and the pruned frame serves through [[ivfPqTopK]]
    * unchanged (whose executor-side cell→queries map keys the SAME
    * assignment, so pre-pruning is result-transparent by
    * construction: rows outside probed cells contribute nothing
    * either way). Same determinism contract as s11: 6dp ADC cosines,
    * ties to lower id.
    */
  def ivfPqTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int, codes: Int, k: Int, nProbe: Int,
      idCol: String = "vec_id", cellCol: String = "cell",
      codesCol: String = "codes", qIdCol: String = "query_id",
      qVecCol: String = "query_vec",
      cIdCol: String = "centroid_id", cVecCol: String = "centroid_vec"): DataFrame = {
    val cells = probedCells(queries, centroids, nProbe,
      qIdCol, qVecCol, cIdCol, cVecCol)
    val pruned = spark.read.parquet(path)
      .filter(col(cellCol).isin(cells.map(Long.box): _*))
    ivfPqTopK(pruned, queries, centroids, codebooks, dim, m, codes, k,
      nProbe, idCol, cellCol, codesCol, qIdCol, qVecCol, cIdCol, cVecCol)
  }

  /** KNN majority-vote label assignment — auto-labeling / label
    * propagation over an embedding space: each query point takes the
    * label held by most of its `k` nearest labeled neighbors (exact
    * cosine; vote ties break by the LOWER label, so the result is
    * deterministic). The workhorse for bootstrapping classifiers from
    * a small labeled seed set, and (run with queries = the labeled
    * points themselves, self excluded by the top-k contract) the
    * standard leave-one-out check that a label column is consistent
    * with the geometry.
    *
    * Returns (qIdCol, labelCol, votes) — `votes` is the winning
    * label's neighbor count. Neighbors missing from `labeled` (or
    * with null labels) simply don't vote; a query whose entire
    * neighborhood is unlabeled drops from the output (visible-null
    * rule).
    *
    * Scale shape: neighbor search is [[bruteForceTopK]] (queries
    * broadcast, corpus scan + bounded heaps — swap in [[ivfTopK]]
    * candidates upstream when the corpus outgrows the exact scan);
    * the neighbor→label join moves k·|queries| rows against the
    * labeled table (broadcast the k·|queries| side); the vote is two
    * hash aggregations over ≤ k·|queries| rows. Nothing corpus-sized
    * shuffles.
    */
  def knnLabelVote(corpus: DataFrame, queries: DataFrame, labeled: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "query_id", qVecCol: String = "query_vec",
      labelCol: String = "label"): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, k, idCol, vecCol, qIdCol, qVecCol)
      .select(col(qIdCol), col(idCol))
    val votes = broadcast(nn)
      .join(labeled.select(col(idCol), col(labelCol))
        .filter(col(labelCol).isNotNull), Seq(idCol))
      .groupBy(col(qIdCol), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    votes.groupBy(col(qIdCol))
      .agg(min_by(struct(col(labelCol), col("votes")),
        struct(negate(col("votes")), col(labelCol))).as("_win"))
      .select(col(qIdCol), col("_win").getField(labelCol).as(labelCol),
        col("_win.votes").as("votes"))
  }

  /** Embedding-level decontamination: flag every corpus vector whose
    * cosine against ANY holdout (benchmark/eval) vector reaches `tau` —
    * the semantic complement of the n-gram holdout gate
    * (`DedupFunctions.contaminationReport`), catching paraphrased eval
    * leakage that shares no exact grams.
    *
    * Returns the corpus columns plus `max_holdout_cos` (each pair
    * cosine rounded to 6 dp BEFORE the max, so the flag is insensitive
    * to accumulation-order noise — the bruteForceTopK convention) and
    * `contaminated`. An empty holdout yields null max / false flag.
    *
    * Scale shape: the holdout set is an eval suite — bounded by
    * construction (the centroid-collect budget convention; a 100-
    * benchmark holdout is ~10⁴ vectors). It aggregates to ONE array
    * row and broadcasts; the per-row max is a scan-local fold calling
    * the codegen'd [[VecCosine]] kernel per holdout vector. The corpus
    * is scanned exactly once — no shuffle, no corpus-sized join state,
    * and the filter composes with partition pruning upstream.
    */
  def semanticDecontaminate(corpus: DataFrame, holdout: DataFrame, tau: Double,
      vecCol: String = "embedding", holdoutVecCol: String = "embedding"): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1] (got $tau)")
    val holdRow = holdout.agg(collect_list(col(holdoutVecCol)).as("_hold"))
    corpus.crossJoin(broadcast(holdRow))
      .withColumn("max_holdout_cos",
        aggregate(col("_hold"), lit(null).cast("double"),
          (acc, h) => greatest(acc, round(cosine(col(vecCol), h), 6))))
      .drop("_hold")
      .withColumn("contaminated",
        coalesce(col("max_holdout_cos") >= tau, lit(false)))
  }

  /** Density-based clustering (DBSCAN, Ester et al. KDD 1996) over a
    * precomputed ε-neighbor pair list — the embedding-space clustering
    * that, unlike the plain near-dup components ([[DedupFunctions
    * .connectedComponents]] on all pairs), refuses to chain through
    * SPARSE bridge points: only CORE points (≥ `minPts` ε-neighbors)
    * propagate connectivity; low-degree points on a cluster's rim
    * attach as borders and isolated low-degree points drop as noise.
    * `pairs` is an undirected unique (id_a < id_b) edge list from any
    * ε-producer — [[lshNeighborPairs]] (banded, the scale path) or
    * [[cosineRangeSearch]]-style exact pairs.
    *
    * Canonical-DBSCAN determinism note: textbook DBSCAN assigns a
    * border point reachable from two clusters to whichever was scanned
    * first (order-dependent); here it attaches to the MINIMUM cluster
    * id — a fixed rule, so results are partitioning- and
    * order-invariant, replayable by any engine.
    *
    * `minPts` convention (EXCLUSIVE of the point itself): core ⇔ the
    * point has ≥ `minPts` ε-NEIGHBORS in the pair list. Ester et al.
    * count the ε-neighborhood INCLUDING the point (|N(p)| ≥ minPts),
    * so this contract equals the textbook one at minPts+1 — pass
    * textbookMinPts−1 to replicate a paper setting exactly.
    *
    * Scale shape: degrees are one hash agg over the symmetrized edges;
    * core filtering is an edge-bounded semi-join; components run the
    * star-contraction CC over core–core edges only (≤ pair count); the
    * border attach is one more edge-sized join. Nothing corpus-scaled
    * shuffles — cost is O(|pairs|), which the banded producer already
    * bounded.
    *
    * Returns (id, cluster_id, role) — role ∈ core|border; noise points
    * are absent (they belong to no cluster).
    */
  def densityClusters(pairs: DataFrame, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1 (got $minPts)")
    val p = pairs.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b"))
    val e = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val core = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") >= minPts)
      .select("id")
    val coreEdges = p
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(core.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    val cc0 = DedupFunctions.connectedComponents(coreEdges)
    // a core point with no CORE neighbor is its own singleton cluster
    // (its ≥ minPts neighbors are all borders/noise)
    val cc = cc0.unionByName(
      core.join(cc0, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
    val border = e
      .join(cc.select(col("id").as("dst"), col("component")), Seq("dst"))
      .select(col("src").as("id"), col("component"))
      .join(core, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("component")).as("component"))
    cc.withColumn("role", lit("core"))
      .unionByName(border.withColumn("role", lit("border")))
      .select(col("id"), col("component").as("cluster_id"), col("role"))
  }

  /** Dominant principal direction of an embedding corpus by POWER
    * ITERATION on the uncentered second-moment matrix XᵀX (the top
    * right-singular vector of X): v ← normalize(XᵀX·v), started from
    * e₀. The embedding-space analytics primitive under drift monitors
    * ("did the corpus's dominant direction move this week?"), spectral
    * diagnostics, and cheap 1-D projections for stratified sampling.
    *
    * The matvec never materializes XᵀX (64×64 here, but the same code
    * is dim-agnostic): XᵀX·v = Σᵢ xᵢ·(xᵢ·v), one corpus scan per
    * round — per row a scan-local dot (fixed-order fold over zip_with,
    * 6dp), then per (row, dim) terms round 6dp and SUM IN EXACT
    * DECIMAL to the dim-sized w vector (the t20 fit-sum contract; a
    * float Σ over a corpus is merge-order-dependent, and unlike g1's
    * per-node sums this one feeds 63 more dims, so drift compounds).
    * Normalization happens driver-side on the collected w (dim rows —
    * the bounded-collect convention of the IVF centroids), with the
    * norm's square-sum folded in ASCENDING dim order so an external
    * engine replays it term for term; each new coordinate rounds 6dp
    * (HALF_UP).
    *
    * Scale shape per round: one corpus scan, map-side partial
    * aggregation onto `dim` keys, `dim` rows to the driver, one
    * broadcast-literal vector back out. Rounds are a fixed small
    * constant (power iteration converges geometrically in the spectral
    * gap); nothing corpus-sized shuffles.
    *
    * Returns (d, loading, sigma): the unit direction per dimension and
    * ‖XᵀX·v‖ from the last round — the dominant eigenvalue estimate.
    */
  def topPrincipalComponent(df: DataFrame, vecCol: String, dim: Int,
      iters: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1 (got $dim)")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val spark = df.sparkSession
    val x = df.select(col(vecCol).cast("array<double>").as("_x"))
      .filter(col("_x").isNotNull && size(col("_x")) === dim)
    var v: Array[Double] = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    var sigma = 0.0
    var r = 0
    while (r < iters) {
      val vLit = typedLit(v.toSeq)
      val s = round(aggregate(zip_with(col("_x"), vLit, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t), 6)
      val w = x.withColumn("_s", s)
        .select(col("_s"), posexplode(col("_x")).as(Seq("d", "xd")))
        .select(col("d"),
          round(col("xd") * col("_s"), 6).cast("decimal(24,6)").as("t"))
        .groupBy("d").agg(sum(col("t")).cast("double").as("w"))
        .orderBy("d")
        .collect() // dim rows — bounded by construction
      require(w.length == dim, s"matvec returned ${w.length} dims, want $dim")
      val ws = w.map(_.getDouble(1))
      // ascending-dim left fold — the order an external replay uses
      val norm = math.sqrt(ws.foldLeft(0.0)((acc, t) => acc + t * t))
      sigma = norm
      v = ws.map(t => BigDecimal(t / norm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      r += 1
    }
    val rnd6 = (t: Double) =>
      BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    v.zipWithIndex.map { case (loading, d) => (d, loading, rnd6(sigma)) }
      .toSeq.toDF("d", "loading", "sigma")
      .orderBy("d")
  }
}
