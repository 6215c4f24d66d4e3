package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash31

/** Deterministic, engine-portable sampling and splitting for
  * training-data pipelines (the reproducible train/eval carve-out every
  * dataset build needs; reference scope per SURVEY.md §2C "extensions").
  *
  * Bucket assignment is a pure row-local function of a key — the
  * portable 31-bit polynomial hash of the key's string rendering — so a
  * sample is reproducible across runs, engines, partition layouts, and
  * cluster sizes. `df.sample`, by contrast, is seeded per partition and
  * silently changes membership when the input is repartitioned; at
  * 100 TB that nondeterminism contaminates eval splits. Row-local, no
  * shuffle, stays in whole-stage codegen (native PolyHash31
  * expression); DuckDB recomputes the identical hash, so splits are
  * hash-verifiable end-to-end (q65).
  */
object Sampling {

  /** Stable bucket in [0, buckets) from the key's string rendering. */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets > 0, "buckets must be positive")
    pmod(PolyHash31.column(key.cast("string")), lit(buckets.toLong))
  }

  /** Deterministic train/eval split: rows whose bucket falls below
    * `trainPct` land in "train", the rest in "eval". Membership is a
    * function of the key alone — append-only datasets keep historical
    * rows in their original split. */
  def split(df: DataFrame, keyCol: String, trainPct: Int,
      splitCol: String = "split"): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, "trainPct must be in [0,100]")
    df.withColumn(splitCol,
      when(hashBucket(col(keyCol), 100) < trainPct, lit("train"))
        .otherwise(lit("eval")))
  }

  /** Deterministic ~pct% sample by key hash. */
  def sampleByHash(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct must be in [0,100]")
    df.filter(hashBucket(col(keyCol), 100) < pct)
  }

  /** Raw portable hash of the key's string rendering — the stable
    * pseudo-random ORDER the stratified sampler ranks by (bucketing
    * collapses ties; ordering needs the full 31-bit value). */
  def keyHash(key: Column): Column = PolyHash31.column(key.cast("string"))

  /** Deterministic stratified sample: up to `k` rows per group, chosen
    * by portable-hash order with the key as tie-break — a reproducible
    * "uniform-ish k per stratum" carve-out (eval slices per language,
    * per source, …) that is stable under repartitioning and appends
    * (new rows displace old ones only by hash order, never by arrival).
    *
    * Scale: one shuffle on the group key; Spark ≥3.5 plans the
    * rank-filter window as WindowGroupLimit, so each task keeps a
    * running top-k instead of sorting whole groups. */
  def stratified(df: DataFrame, groupCols: Seq[String], keyCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(keyHash(col(keyCol)), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic weighted mix: keep ~pct% of each group (source,
    * domain, …), pct from `pctByGroup` with `defaultPct` elsewhere —
    * the up/down-sampling step that rebalances a multi-source corpus.
    * Membership is a pure function of (key, group weights): row-local,
    * no shuffle, reproducible across engines. */
  def weightedMix(df: DataFrame, keyCol: String, groupCol: String,
      pctByGroup: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    (pctByGroup.values ++ Seq(defaultPct)).foreach(p =>
      require(p >= 0 && p <= 100, s"pct must be in [0,100], got $p"))
    // deterministic CASE order (sorted keys) so plans are stable
    val pct = pctByGroup.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (g, p)) => when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 100) < pct)
  }

  /** Modulus of the portable hash: [[keyHash]] values lie in
    * [0, HashMod). Range-bucketing divides this interval. Aliases the
    * authoritative constant next to the hash itself. */
  val HashMod: Long = graft.functions.PolyHash31.Mod

  /** Token-budget sampling: per group, keep documents in portable-hash
    * order until the group's running token sum reaches `budget` — the
    * "cut each source down to N tokens" step of a corpus mixing recipe.
    * A document whose tokens START below the budget is kept (greedy
    * prefix, same straddle convention as [[Packing.packBins]]), so kept
    * token mass is budget ± one document.
    *
    * Semantics are EXACTLY the single global window
    * `sum(tokens) OVER (PARTITION BY group ORDER BY hash(key), key)` —
    * but computed scale-safe in two phases: the hash RANGE is cut into
    * `subShards` contiguous slices (slice i = hashes in
    * [i·Mod/k, (i+1)·Mod/k)), so hash order nests across slices and
    * per-slice prefix sums compose into the global prefix with one tiny
    * offset aggregate (|groups| × subShards rows, broadcast back).
    * Unlike a mod-hash split, range slices preserve the global order —
    * the two-phase plan is a pure parallelization, not an alternate
    * layout, which is why a plain one-window SQL oracle hash-matches it.
    * Hash values are uniform-ish, so range slices are balanced; per-task
    * state is one (group, slice) running sum. */
  def tokenBudget(df: DataFrame, keyCol: String, tokenCol: String,
      groupCols: Seq[String], budget: Long, subShards: Int = 16): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(subShards > 0, "subShards must be positive")
    val hh = keyHash(col(keyCol))
    // contiguous hash-range slice: floor(hh * k / Mod) ∈ [0, k)
    val sub = df.withColumn("__hh", hh)
      .withColumn("__sub", (col("__hh") * subShards / lit(HashMod))
        .cast("long"))
    val keys = groupCols :+ "__sub"
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__hh"), col(keyCol))
    val local = sub.withColumn("__cum", sum(col(tokenCol)).over(localW))
    // offsets: token mass in lower slices of the same group
    val offW = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("__sub"))
    val offsets = sub.groupBy(keys.map(col): _*)
      .agg(sum(col(tokenCol)).as("__tot"))
      .withColumn("__off", sum(col("__tot")).over(offW) - col("__tot"))
      .select(keys.map(k => col(k).as(s"__o_$k")) :+ col("__off"): _*)
    val cond = keys.map(k => col(k) <=> col(s"__o_$k")).reduce(_ && _)
    local.join(broadcast(offsets), cond)
      .filter(col("__off") + col("__cum") - col(tokenCol) < budget)
      .select(df.columns.map(col): _*)
  }
}
