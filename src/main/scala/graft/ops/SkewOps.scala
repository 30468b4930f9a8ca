package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Skew mitigation for shuffle joins (SURVEY.md §6 / the 100 TB design
  * point). AQE's skew-join splitting handles most head keys at runtime;
  * explicit salting is the tool for the pathological case AQE cannot
  * split — ONE key so hot that a single task would still own it after
  * splitting (AQE splits partitions, not identical join keys on the
  * build side of a sort-merge join's same-key group).
  */
object SkewOps {

  /** Salted equi-join: the left (skewed) side gets a deterministic salt
    * in [0, salts); the right side is exploded to ALL salt values, so
    * every (key, salt) pair still meets its matches. The hot key's rows
    * then spread over `salts` shuffle partitions instead of one.
    *
    * Cost model: right side is replicated `salts`× — use when
    * |right| × salts ≪ |left's hot key group|, i.e. a large skewed fact
    * side against a moderate dimension side that is still too big to
    * broadcast.
    *
    * The left salt hashes EVERY left column (not just the keys — keyed
    * salt would land the whole hot key in one bucket and change
    * nothing): a pure projection, deterministic across task retries,
    * where a `rand()` salt would re-salt rows differently on retry
    * while reducers have already fetched the old layout. Fully
    * identical duplicate rows share a salt, which is harmless — they
    * carry no skew a split could fix.
    *
    * Join types: `inner`, `left`, `left_semi`, `left_anti` — the ones
    * where replicating the RIGHT side cannot change multiplicity of the
    * result. Right/full joins would duplicate unmatched right rows
    * `salts`× and are rejected.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1 (got $salts)")
    val allowed = Set("inner", "left", "left_outer", "left_semi", "left_anti")
    require(allowed.contains(joinType),
      s"saltedJoin supports $allowed (right/full joins would replicate " +
        s"unmatched right rows); got '$joinType'")
    val salt = ColNames.fresh((left.columns ++ right.columns).toSet, "_salt")
    // xxhash64 rejects MapType anywhere in a column's type; hash the
    // hashable columns only (callers with huge array/binary payloads can
    // pre-project — the salt only needs SOME row-varying input). If
    // nothing else is hashable, fall back to the keys: degenerate (one
    // bucket per key) but still correct.
    def hashSafe(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashSafe(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashSafe(a.elementType)
      case _ => true
    }
    val hashCols = left.schema.fields.filter(f => hashSafe(f.dataType)).map(f => col(f.name))
    val saltInput = if (hashCols.nonEmpty) hashCols.toSeq else keys.map(col)
    val leftSalted = left.withColumn(salt,
      pmod(xxhash64(saltInput: _*), lit(salts.toLong)).cast("int"))
    val rightSalted = right.withColumn(salt,
      explode(sequence(lit(0), lit(salts - 1))))
    leftSalted.join(rightSalted, keys :+ salt, joinType).drop(salt)
  }

  /** Skew-split SELF-pair join — the LSH candidate-generation shape:
    * emit every ordered pair `(id_a < id_b)` of rows sharing `keyCols`
    * (an LSH (band, bucket), a SimHash chunk, …). Buckets are the skew
    * hazard: one boilerplate bucket with n members produces an n²-pair
    * same-key group that AQE cannot split (identical join keys land in
    * one sort-merge group regardless of partition splitting).
    *
    * The fix stays fully LAZY — no driver-side action. A per-bucket
    * count (one map-side-combined aggregation over `df`) joins back
    * onto the rows; buckets at or under `hotThreshold` take the plain
    * self-join, hotter buckets take a salted two-sided join: the left
    * occurrence of each row gets `pmod(xxhash64(id), salts)` (ids are
    * distinct within a bucket, so the hash spreads the bucket evenly
    * — salting by the KEY would change nothing), the right occurrence
    * explodes to all salts, and the join adds the salt to the key. A
    * pair is emitted exactly once — at the left element's salt — so
    * hot ∪ cold is EXACTLY the plain pair set, in any order. A bucket
    * is entirely hot or entirely cold (the count is a pure function of
    * the key), so no cross-class pairs exist.
    *
    * Cost model: the hot side pays `salts`× replication of its right
    * occurrence but divides the n²/salts-per-task quadratic work across
    * `salts` tasks. The armed split reads the counted rows four times
    * (cold x, cold y, hot x, hot y) and `df` twice (rows and histogram),
    * and Catalyst infers a different null filter for each copy, so no
    * exchange is reused: unpinned, `df`'s whole lineage (an LSH
    * signature aggregation at the call sites) ran eight times and the
    * histogram four. Both are therefore pinned ([[graft.Caches
    * .trackedPersist]], the multi-consumer rule; released with the
    * other operator pins): `df` and the histogram each run once, and
    * the result stays lazy. `hotThreshold = Long.MaxValue` (the
    * default) bypasses the histogram and the pins entirely and
    * compiles to the plain self-join.
    */
  def selfPairJoin(df: DataFrame, keyCols: Seq[String], idCol: String,
      hotThreshold: Long = Long.MaxValue, salts: Int = 16): DataFrame = {
    require(salts >= 1, s"salts must be >= 1 (got $salts)")
    require(hotThreshold >= 1, s"hotThreshold must be >= 1 (got $hotThreshold)")
    val keys = keyCols.map(col)
    def pairs(d: DataFrame, joinKeys: Seq[String]) =
      d.as("x").join(d.as("y"), joinKeys)
        .filter(col(s"x.$idCol") < col(s"y.$idCol"))
        .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
    if (hotThreshold == Long.MaxValue)
      pairs(df, keyCols) // fast path: no histogram pass at all
    else {
      val taken = df.columns.toSet
      val cnt = ColNames.fresh(taken, "_bucket_n")
      val salt = ColNames.fresh(taken + cnt, "_salt")
      graft.Caches.trackedPersist(df, StorageLevel.MEMORY_AND_DISK)
      val counts = df.groupBy(keys: _*).agg(count(lit(1)).as(cnt))
      val withCnt = graft.Caches.trackedPersist(df.join(counts, keyCols),
        StorageLevel.MEMORY_AND_DISK)
      val cold = withCnt.filter(col(cnt) <= hotThreshold).drop(cnt)
      val hot = withCnt.filter(col(cnt) > hotThreshold).drop(cnt)
      val hotX = hot.withColumn(salt,
        pmod(xxhash64(col(idCol)), lit(salts.toLong)).cast("int"))
      val hotY = hot.withColumn(salt, explode(sequence(lit(0), lit(salts - 1))))
      val hotPairs = hotX.as("x").join(hotY.as("y"), keyCols :+ salt)
        .filter(col(s"x.$idCol") < col(s"y.$idCol"))
        .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      pairs(cold, keyCols).unionByName(hotPairs)
    }
  }

  /** Diagnose before defending: the one-row skew profile of a join/agg
    * key — row and key cardinalities, the per-key count distribution
    * (max, mean, exact interpolated p50/p99 — the a10 cross-engine
    * convention), and the hottest key with its share of all rows. Read
    * `max_cnt` against a shuffle-partition row budget to decide between
    * nothing / AQE skew-split / [[saltedJoin]].
    *
    * Scale shape: pass 1 is the (key → count) hash aggregate with
    * map-side partials (the shuffle carries one partial per key per
    * partition); pass 2 reduces the key-cardinality count frame to ONE
    * row (exact percentile buffers per-key counts — fine at key
    * cardinality; swap `approx_percentile` in when even the key set is
    * huge). The hottest key rides the same single-row aggregate via
    * `max_by`, not a sort.
    */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_cnt"))
      .agg(
        sum("_cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max("_cnt").as("max_cnt"),
        round(avg("_cnt"), 6).as("avg_cnt"),
        round(expr("percentile(_cnt, 0.5D)"), 6).as("p50_cnt"),
        round(expr("percentile(_cnt, 0.99D)"), 6).as("p99_cnt"),
        max_by(col("_k").cast("string"), struct(col("_cnt"), col("_k").cast("string")))
          .as("top_key"),
        max("_cnt").as("top_cnt"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"), col("avg_cnt"),
        col("p50_cnt"), col("p99_cnt"), col("top_key"),
        round(col("top_cnt").cast("double") / col("n_rows") * 100, 6)
          .as("top_share_pct"))

  /** The heaviest `k` keys with counts and row share — the companion
    * detail view to [[keySkewProfile]] (deterministic: count desc, key
    * asc). TakeOrdered over the key-count frame — never a global sort;
    * the total rides a broadcast single-row cross join.
    */
  def topKeys(df: DataFrame, keyCol: String, k: Int = 5): DataFrame = {
    require(k > 0, s"topKeys needs k > 0 (got $k)")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = df.select(count(lit(1)).as("_tot"))
    counts.orderBy(desc("cnt"), asc("key")).limit(k)
      .crossJoin(broadcast(total))
      .select(col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("_tot") * 100, 6).as("share_pct"))
  }

  /** Gini concentration index per entity over a non-negative value
    * column — the single-number answer to "how concentrated is this
    * distribution" that [[keySkewProfile]]'s percentile ladder spreads
    * over many: 0 = perfectly even, → 1 = one row holds everything.
    * The skew DIAL for partition planning (a high-Gini key column
    * needs salting before it needs more executors) and the standard
    * inequality audit over volumes/revenues.
    *
    *   G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx),  x₍₁₎ ≤ … ≤ x₍ₙ₎
    *
    * Determinism: values are cast to exact decimal, the rank weights
    * are integers (ties broken by rank — the formula is tie-invariant:
    * equal x across adjacent ranks contribute the same regardless of
    * order), both sums accumulate EXACTLY, and the single closing
    * division rounds to 6 dp. Zero-total entities report null.
    *
    * Scale shape: one entity-partitioned rank window (the w-family
    * exchange) + one hash aggregation; nothing global.
    */
  def giniIndex(df: DataFrame, entityCol: String, valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(entityCol).orderBy(col(valueCol).asc, monotonically_increasing_id())
    // monotonically_increasing_id only pads the ORDER for determinism of
    // the rank assignment; the Gini sum is provably identical under any
    // tie order, so the nondeterministic id never reaches the result
    df.filter(col(valueCol).isNotNull)
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_x", col(valueCol).cast("decimal(18,2)"))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("_sx"),
        sum(col("_x") * col("_i")).as("_six"))
      .select(col(entityCol), col("n"),
        col("_sx").cast("double").as("total"),
        round(when(col("_sx") === 0, lit(null))
          .otherwise((lit(2) * col("_six") - (col("n") + 1) * col("_sx")).cast("double")
            / (col("n") * col("_sx")).cast("double")), 6).as("gini"))
      .orderBy(entityCol)
  }
}
