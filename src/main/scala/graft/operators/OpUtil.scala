package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Tiny synchronized access-ordered LRU for bounded driver-side
  * registries (drop counters, snapshot lookups, and through
  * [[SessionCache]] every session-scoped cache). Evicts eldest entries
  * above the cap, so a steady
  * working set under the cap stays hot — a clear-all-at-cap variant
  * degenerates to ~0% hit rate once the working set touches the cap,
  * re-paying exactly the probe jobs the cache exists to avoid.
  *
  * `onEvict` runs OUTSIDE the map monitor (ADVICE r7): callbacks here
  * release external resources (a persisted DataFrame's blocks — an RPC
  * to the block manager), and running them under the lock would stall
  * every concurrent get() behind storage I/O and invite lock-order
  * inversions with Spark-internal monitors. Displaced entries are
  * collected under the lock, callbacks fire after release — each
  * displaced value sees exactly one onEvict (PropertySpec pins this
  * under concurrent puts). An evicted value may still be in use by a
  * reader that get()'d it moments earlier; callbacks must therefore be
  * degrade-not-break (unpersist ⇒ recompute), as every caller's
  * callback is. */
private[graft] final class BoundedLru[K, V](max: Int,
    onEvict: (K, V) => Unit = (_: K, _: V) => ()) {
  require(max > 0, "LRU cap must be positive")
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
  def put(k: K, v: V): Unit = {
    val displaced = m.synchronized {
      val out = List.newBuilder[(K, V)]
      val prev = m.put(k, v)
      // a REPLACED value ages out just like an evicted one — two racing
      // builders of the same key would otherwise leak the loser's
      // resources
      if (prev != null && (prev.asInstanceOf[AnyRef] ne v.asInstanceOf[AnyRef]))
        out += ((k, prev))
      while (m.size() > max) {
        val it = m.entrySet().iterator()
        val e = it.next() // eldest in access order; never k (just touched)
        out += ((e.getKey, e.getValue))
        it.remove()
      }
      out.result()
    }
    displaced.foreach { case (dk, dv) => onEvict(dk, dv) }
  }
  def clear(): Unit = {
    val all = m.synchronized {
      val snap = List.newBuilder[(K, V)]
      m.forEach((k, v) => snap += ((k, v)))
      m.clear()
      snap.result()
    }
    all.foreach { case (k, v) => onEvict(k, v) }
  }
  /** Remove every entry whose key matches `pred` (invalidation hook —
    * e.g. dropping a table must purge cached state keyed under its
    * path, or a recreate at the same path would serve stale values). */
  def removeKeys(pred: K => Boolean): Unit = {
    val removed = m.synchronized {
      val snap = List.newBuilder[(K, V)]
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (pred(e.getKey)) { snap += ((e.getKey, e.getValue)); it.remove() }
      }
      snap.result()
    }
    removed.foreach { case (k, v) => onEvict(k, v) }
  }
}

/** A [[BoundedLru]] that holds ONE SparkSession's entries: the first
  * access from another session clears it, so a cached plan, centroid
  * set or persisted frame never crosses sessions or pins a dead one.
  * The session check and the lookup are one atomic step, so a clear
  * cannot land between another caller's lookup and its use.
  *
  * [[getOrBuild]] builds a miss OUTSIDE the lock (builders run Spark
  * jobs; concurrent callers must not serialize on them). When two
  * callers race to build one key, the first to publish wins and the
  * other adopts the winner; `onEvict` releases the loser's value, as
  * it does every evicted or cleared one. Publishing over the winner
  * instead would evict a value its builder may be mid-query over. */
private[graft] final class SessionCache[K, V](max: Int,
    onEvict: V => Unit = (_: V) => ()) {
  private val lru = new BoundedLru[K, V](max, (_, v) => onEvict(v))
  private var session: SparkSession = null

  private def lookup(spark: SparkSession, k: K): Option[V] = synchronized {
    if (session ne spark) { lru.clear(); session = spark }
    lru.get(k)
  }

  def getOrBuild(spark: SparkSession, k: K)(build: => V): V =
    lookup(spark, k).getOrElse {
      val built = build
      val winner = synchronized {
        lookup(spark, k).getOrElse { lru.put(k, built); built }
      }
      if (winner.asInstanceOf[AnyRef] ne built.asInstanceOf[AnyRef])
        onEvict(built)
      winner
    }
}

/** Cache key for what a DataFrame computes: the canonicalized analyzed
  * plan, equal under `sameResult` (semantic, not reference, identity —
  * the same table read twice hits, a hash collision never does). */
private[graft] final class PlanKey(df: DataFrame) {
  private val plan = df.queryExecution.analyzed.canonicalized
  override def hashCode: Int = plan.semanticHash()
  override def equals(o: Any): Boolean = o match {
    case k: PlanKey => plan.sameResult(k.plan)
    case _ => false
  }
}

/** Shared predicates for adaptive physical-strategy choices. */
private[graft] object OpUtil {
  /** Ids the block-broadcast scorers can key on (cast-to-long safe). */
  def isIntegralId(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Bucket-skew guard for LSH candidate streams: drop rows in any
    * bucket larger than `cap` BEFORE the candidate self/equi-join, so a
    * degenerate corpus (many identical / near-zero vectors collapsing
    * into one (band, bucket)) bounds the join at cap² pairs per bucket
    * instead of going quadratic in the corpus.
    *
    * Dropping a mega-bucket costs recall only on that bucket's members —
    * candidates the downstream exact verify would either reject en masse
    * (hash collisions of dissimilar rows) or that other bands still
    * cover. The drop is LOUD: every dropped row bumps a named
    * accumulator (visible in the Spark UI and to specs) — silence never
    * masquerades as coverage.
    *
    * Physical shape (round 6, replacing the r5 count-window): bucket
    * populations come from a groupBy — map-side partial aggregation, so
    * only per-partition (key, count) rows shuffle, not the stream — and
    * the (usually empty) overflow set anti-joins back by BROADCAST. The
    * big banded stream is never shuffled or sorted by the guard; it is
    * scanned twice, which for an LSH stream is a narrow re-map of the
    * source. The r5 window formulation shuffled the whole stream and
    * cost q32 +38% for a guard that almost never fires; skew itself
    * bounds the broadcast (hot buckets number ≤ |stream|/cap, and a
    * corpus degenerate enough to overflow that is concentrated, not
    * spread). */
  /** Last-created drop accumulator per metric name — the spec/debug
    * hook for the loudness invariant (named accumulators are also in
    * the Spark UI, but tests need programmatic access). Last writer
    * wins on a name collision; an alarm metric, not a ledger. BOUNDED:
    * an access-ordered LRU of the most recent 64 metric names, so a
    * long-lived server session running many guarded queries can't grow
    * this registry without bound (the accumulators themselves are tiny,
    * but unbounded-in-query-count driver state is a smell). */
  object dropCounters {
    private val m = new BoundedLru[String, org.apache.spark.util.LongAccumulator](64)
    def put(k: String, v: org.apache.spark.util.LongAccumulator): Unit = m.put(k, v)
    /** Read the counter, or a fresh ZERO accumulator if the name was
      * never registered or has aged out of the 64-entry window (ADVICE
      * r7: the old throw made a >64-guarded-query session fail
      * spuriously on a late read). Zero-on-miss keeps the alarm
      * contract loud where it matters: every spec asserts `value > 0`
      * right after the guarded query runs, so an evicted-or-mistyped
      * name still fails the assertion instead of crashing the session.
      * Read promptly after the query if you need the true count. */
    def apply(k: String): org.apache.spark.util.LongAccumulator =
      m.get(k).getOrElse(new org.apache.spark.util.LongAccumulator)
    def get(k: String): Option[org.apache.spark.util.LongAccumulator] = m.get(k)
  }

  def capBuckets(df: DataFrame, keys: Seq[String], cap: Int,
      metricName: String): DataFrame = {
    require(cap > 0, "bucket cap must be positive")
    val acc = df.sparkSession.sparkContext.longAccumulator(metricName)
    dropCounters.put(metricName, acc)
    // The side effect lives in the FILTER predicate, not a projected
    // column: a projected-then-dropped column is eliminated by Catalyst
    // column pruning (asNondeterministic blocks reordering/cloning, NOT
    // pruning of an unused output — verified empirically), which would
    // silence the drop alarm entirely. A filter's predicate is always
    // evaluated. Adds n (dropped rows) once per hot bucket, during the
    // broadcast build; at-least-once on rebuild/retry — fine for an
    // alarm.
    val hotOnly = udf { (n: Long) =>
      if (n > cap) { acc.add(n); true } else false
    }.asNondeterministic()
    // hot side carries RENAMED keys: the anti-join is a self-join of the
    // banded stream's lineage, and plan-qualified references would be
    // ambiguous
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bc"))
      .filter(hotOnly(col("__bc")))
      .select(keys.map(k => col(k).as(s"__hot_$k")): _*)
    // null-safe equality so an (unlikely) NULL-keyed mega-bucket is still
    // guarded — matches the window formulation's partition semantics
    val cond = keys.map(k => col(k) <=> col(s"__hot_$k")).reduce(_ && _)
    df.join(broadcast(hot), cond, "left_anti")
  }

  /** [[capBuckets]] followed by an explicit hash repartition on `keys` —
    * for callers about to SELF-join the capped stream on those keys (the
    * join must shuffle on them regardless). Ordering matters twice over:
    *  - the guard runs BEFORE the shuffle, so a degenerate mega-bucket is
    *    dropped map-side and never funnels onto a single reducer (a
    *    window-count-after-repartition variant was tried here and
    *    reverted: it sorted the entire degenerate corpus in one task —
    *    the exact hotspot the guard exists to bound);
    *  - the repartition is the stream's ONLY exchange, so both self-join
    *    sides (and anything else keyed on `keys`) read one
    *    ReusedExchange instead of re-deriving the stream per plan
    *    reference.
    * Cost model, stated honestly: the upstream pipeline is computed
    * TWICE — once by the census groupBy (map-side combined; only (key,
    * count) rows shuffle) and once feeding the repartition — and then
    * never again. That narrow second scan is the price of dropping
    * mega-buckets before the wide shuffle; the alternative (census from
    * the shuffled stream) computes upstream once but ships the whole
    * degenerate corpus through single reducers first.
    * When the upstream pipeline reads a PERSISTED relation (the minhash
    * sigCache), AQE does not reuse exchanges over cached adaptive
    * subplans, so the self-join sides each shuffle the slim stream from
    * the cache instead of sharing one exchange — acceptable, because
    * the cache already guarantees the expensive derivation ran once. */
  def capBucketsForSelfJoin(df: DataFrame, keys: Seq[String], cap: Int,
      metricName: String): DataFrame =
    capBuckets(df, keys, cap, metricName)
      .repartition(keys.map(col): _*)
}
