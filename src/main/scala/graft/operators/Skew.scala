package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities. AQE's skew-join splitting covers plain
  * shuffle-joins at runtime, but — measured, round 7 — it structurally
  * CANNOT engage on the attach-counts-to-occurrences joins this library's
  * token operators run: `OptimizeSkewedJoin` pattern-matches a join whose
  * children are sort-over-shuffle-read directly, and a count side always
  * carries its final `HashAggregate` between the sort and the shuffle
  * read, so the rule never fires no matter how skewed the stream side is
  * (verified on an engineered hot-key corpus with thresholds far below
  * the hot partition's size — TokenJoinSkewSpec pins the finding).
  * Explicit salting is therefore the ONLY mitigation for Zipf-keyed
  * vocabulary joins once the vocabulary outgrows broadcast.
  *
  * `saltedJoin` replicates the (small) right side `salt` times and
  * scatters the left side uniformly across the replicas: the hot key's
  * rows spread over `salt` tasks instead of one. Classic trade —
  * |R| x salt extra shuffle volume for |L|/salt per-task bound.
  *
  * `hotSaltedJoin` is the frequency-tiered refinement for
  * vocabulary-sized right sides, where whole-side replication is too
  * expensive: only the (bounded, broadcastable) HOT key set is salted;
  * the Zipf tail joins unsalted. One scan per side, one equijoin.
  *
  * Deriving the hot set: callers today compute it from the full df
  * aggregate they already need (zero extra passes). When a pipeline
  * does NOT otherwise need per-key counts, the one-pass scale
  * alternative is the count-min sketch
  * ([[TextAnalysis.cmsCells]]/[[TextAnalysis.cmsEstimates]],
  * `q_heavy_hitters`): fixed 4096-cell state, and its one-sided
  * estimates make the est ≥ cutoff set a guaranteed SUPERSET of the
  * true hot set (spec'd on a Zipf corpus) — a false-positive hot key
  * merely gets salted unnecessarily, which is correct, just ~salt×
  * small-side rows heavier for that key.
  */
object Skew {

  /** Self-scaling hot-key cutoff for [[hotSaltedJoin]] callers: treat a
    * key as hot when its count ≥ max(`total div HotKeyFanout`,
    * [[MinHotCount]]). Keys at that share number ≤ HotKeyFanout (counts
    * sum to the total), bounding the broadcast hot set at any corpus
    * size, while any key that could dominate one of ≤ ~10⁶ shuffle
    * partitions gets salted. */
  val HotKeyFanout: Long = 1L << 20

  /** Absolute floor under the relative cutoff: below ~4k rows a key
    * cannot meaningfully skew any realistic partition, and without the
    * floor a SMALL corpus (total < 2²⁰, where `total div fanout` = 0)
    * would mark its entire vocabulary hot and replicate the whole small
    * side `salt`× for nothing. With it, the registered queries run the
    * degenerate single-bucket path at test scale (hash-matching the
    * plain-join algebra); TokenJoinSkewSpec pins the salted path's
    * equality and spread with explicit hot sets. */
  val MinHotCount: Long = 4096L

  /** The self-scaling hot-key DERIVATION written once (r15 — the
    * formula previously lived inline at each call site): keys of the
    * per-key count frame `counts` whose `countCol` holds ≥
    * 1/[[HotKeyFanout]] of the column's total, floored at
    * [[MinHotCount]]. `counts` must be one row per key (the aggregate
    * the caller already computes for its own semantics — deriving the
    * head costs one 1-row total plus a broadcast cross, never an extra
    * corpus pass). Result: a single `keyCol` column, bounded at any
    * corpus size by the share argument in the [[HotKeyFanout]]
    * Scaladoc — safe to broadcast into [[hotSaltedJoin]]. */
  def hotKeysByCount(counts: DataFrame, keyCol: String,
      countCol: String): DataFrame = {
    val tt = counts.agg(sum(countCol).cast("long").as("__t"))
    counts.crossJoin(broadcast(tt))
      .where(col(countCol) >=
        greatest(expr(s"__t div $HotKeyFanout"), lit(MinHotCount)))
      .select(keyCol)
  }

  /** Inner equi-join of `left` and `right` on `key`, with the left side
    * salted across `salt` buckets. Result columns = left ++ right
    * (minus right's join key).
    *
    * Project `left` down to the columns you need BEFORE calling: the
    * deterministic scatter hashes every left column, so an unprojected
    * table drags its full width into the scan (defeating column
    * pruning). Uniformity doesn't need row uniqueness — hash collisions
    * just co-locate a few rows. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salt: Int): DataFrame = {
    require(salt > 1, "salt must be > 1")
    // deterministic scatter: hash of the whole left row modulo salt —
    // uniform without a nondeterministic rand() (restart-safe)
    val leftSalted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(salt)))
    val replicas = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    leftSalted.join(replicas, Seq(key, "__salt")).drop("__salt")
  }

  /** Inner equi-join of a Zipf-keyed `big` stream with a
    * vocabulary-sized `small` side (one row per key), salting ONLY the
    * keys in `hotKeys`: big-side hot rows scatter across `salt` buckets
    * by a deterministic hash of `saltSrc` (pick a column that varies
    * within a hot key — e.g. doc_id), small-side hot rows replicate
    * across all buckets, and every other key joins unsalted (bucket 0).
    * Result equals the plain inner join exactly; result columns = big ++
    * small (minus the join key's duplicate).
    *
    * `hotKeys` must be BOUNDED — it broadcasts to both sides. The
    * self-scaling recipe the token operators use keeps it bounded by
    * construction: keys holding ≥ 1/2²⁰ of total occurrences number
    * ≤ 2²⁰ no matter the corpus size (counts sum to the total), so the
    * broadcast never outgrows the driver while every key that could
    * dominate a shuffle partition at ≤ ~10⁶-way parallelism gets
    * spread. Cost over the plain join: one broadcast-hash probe per
    * row on each side and ≤ |hotKeys| × salt extra small-side rows —
    * the big side never shuffles twice and never replicates.
    *
    * Columns named `__hot`/`__salt` on either input would collide. */
  def hotSaltedJoin(big: DataFrame, small: DataFrame, key: String,
      hotKeys: DataFrame, saltSrc: Column, salt: Int = 16): DataFrame = {
    require(salt > 1, "salt must be > 1")
    val hk = broadcast(hotKeys.select(col(key), lit(true).as("__hot")))
    val bigS = big.join(hk, Seq(key), "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull,
          pmod(xxhash64(saltSrc), lit(salt)).cast("int"))
          .otherwise(lit(0)))
      .drop("__hot")
    val smallS = small.join(hk, Seq(key), "left")
      .withColumn("__salt", explode(
        when(col("__hot").isNotNull, sequence(lit(0), lit(salt - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot")
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** [[hotSaltedJoin]] with the hot DECISION as a per-row PREDICATE
    * instead of broadcast set membership — the count-min form of the
    * Scaladoc's "one-pass alternative" made real: `isHot(key)` probes
    * a foldable sketch literal ([[TextAnalysis.cmsEstCol]] over a
    * collected 4×1024 cell table — a 32 KB bounded driver sync, the
    * bloom-literal precedent), so deriving hotness costs NO per-key
    * count aggregate, NO grand-total pass, and NO hot-set broadcast
    * join: one fixed-state sketch pass replaces the full df plane.
    * Correctness is UNCONDITIONAL in the predicate (both sides
    * evaluate the same deterministic expression, so they agree on
    * every key's bucket) — and CMS one-sidedness makes the est ≥ τ
    * predicate a superset of the true hot set, i.e. the same
    * result with at-worst unnecessary salting of false positives
    * (SkewSpec pins superset + output equality). */
  def hotSaltedJoinBy(big: DataFrame, small: DataFrame, key: String,
      isHot: Column => Column, saltSrc: Column, salt: Int = 16)
      : DataFrame = {
    require(salt > 1, "salt must be > 1")
    val bigS = big.withColumn("__salt",
      when(isHot(col(key)), pmod(xxhash64(saltSrc), lit(salt)).cast("int"))
        .otherwise(lit(0)))
    val smallS = small.withColumn("__salt", explode(
      when(isHot(col(key)), sequence(lit(0), lit(salt - 1)))
        .otherwise(array(lit(0)))))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot-group threshold for [[guardedKeyJoin]] callers: a key group
    * on the index side larger than this is treated as skewed. 4096
    * slim rows is far above anything a non-pathological key
    * distribution produces and far below where a single reducer
    * starts to hurt. (The r17 near-dup bands guard's constant,
    * hoisted here when the guard generalized in r18.) */
  val HotGroupThreshold: Int = 1 << 12

  /** Salt fan-out for [[guardedKeyJoin]]'s hot groups — bounds the
    * largest post-shuffle group at ~hotGroup/salts while multiplying
    * ONLY the hot probe rows by `salts`. */
  val HotGroupSalts: Int = 16

  /** Generic skew-GUARDED candidate equijoin (r18 — the r17 near-dup
    * bands guard generalized over (key, payload) frames, so the
    * image-dedup chunk join can reuse it): joins `newSide` against
    * `oldSide` on `keys` with OUTPUT IDENTICAL to the plain
    * `newSide.join(oldSide, keys)` — the guard repartitions work,
    * never semantics. Key groups above `hotThreshold` on the OLD
    * (index) side route to a salted join — old rows salt by
    * `pmod(xxhash64(saltSrc), salts)` (`saltSrc` must be an old-side
    * column that varies within a hot key, e.g. its id), new rows fan
    * out to all salts, each new·old pair meets exactly once (on the
    * old row's salt) — so a hot key's quadratic candidate block
    * spreads over `salts` reducers instead of one; everything else
    * takes the plain equijoin untouched. Cost: one count-aggregate
    * over the old side's keys (map-side combined, one row per
    * distinct key), a broadcast of the hot-key set (≤
    * |old|/hotThreshold rows by pigeonhole), and ×salts new-row
    * fan-out on hot keys only. Non-key column names of the two
    * sides must be disjoint, and neither side may carry a column named
    * `__hot` or `__salt` (in any case): the join adds both internally. */
  def guardedKeyJoin(oldSide: DataFrame, newSide: DataFrame,
      keys: Seq[String], saltSrc: Column,
      hotThreshold: Int = HotGroupThreshold,
      salts: Int = HotGroupSalts): DataFrame = {
    require(hotThreshold > 0 && salts > 0)
    val reserved = (oldSide.columns ++ newSide.columns)
      .filter(c => Set("__hot", "__salt")(c.toLowerCase))
    require(reserved.isEmpty, "guardedKeyJoin reserves __hot and __salt; " +
      s"input carries ${reserved.mkString(", ")}")
    val hot = oldSide.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > hotThreshold)
      .select(keys.map(col): _*)
    // ONE equijoin on (keys, salt) instead of the r18 anti/anti +
    // semi/semi two-join union (which read the old side three times
    // and the new side twice, and planned four exchanges): every row
    // gets a salt — old hot rows scatter by hash(saltSrc), old cold
    // rows sit in bucket 0, new hot rows fan out to all buckets, new
    // cold rows probe bucket 0 — so hot and cold pairs meet exactly
    // once each, identically to the plain join ([[hotSaltedJoin]]'s
    // shape, generalized to multi-column keys). Old side is now read
    // twice total (count aggregate + join), the new side once.
    val hk = broadcast(hot.withColumn("__hot", lit(true)))
    val oldS = oldSide.join(hk, keys, "left")
      .withColumn("__salt",
        when(col("__hot").isNotNull,
          pmod(xxhash64(saltSrc), lit(salts)).cast("int"))
          .otherwise(lit(0)))
      .drop("__hot")
    val newS = newSide.join(hk, keys, "left")
      .withColumn("__salt", explode(
        when(col("__hot").isNotNull, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot")
    newS.join(oldS, keys :+ "__salt").drop("__salt")
  }
}
